"""Tile composite / merge (EP3, U1/U2) + validity (P5) — SURVEY.md §2.6.

Reference semantics (src/vector_tile_composite.hpp — composite();
src/vector_tile_load_tile.hpp — add_buffer_to_tile duplicate-layer
policy; src/vector_tile_is_valid.hpp — tile_is_valid): merging k source
tiles for one address appends their layer buffers (fast path, legal
protobuf concat per SURVEY A.5), skipping a layer name that is already
present (first source wins); the slow path decodes, rescales to the
target extent, and re-encodes.

Spark shape: sources are layer tables (z,x,y,layer,blob,...) tagged
with a source rank; the merge is ONE union + per-(tile,layer)
first-wins fold — the same grouped shuffle machinery as the encode
pipeline, so composite inherits its salting/skew story. The re-extent
slow path is a narrow blob→blob kernel."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
)

from mapnik_vector_tile_spark.functions import clip as clipmod
from mapnik_vector_tile_spark.functions import geomcodec as gc
from mapnik_vector_tile_spark.functions import pbf
from mapnik_vector_tile_spark.functions import pip as pipmod
from mapnik_vector_tile_spark.functions import simplify as simp
from mapnik_vector_tile_spark.functions import tilemath as tm
from mapnik_vector_tile_spark.operators.grouped import apply_grouped
from mapnik_vector_tile_spark.operators.tiling import (
    LAYER_COLS,
    LAYER_SCHEMA,
    _ZXY,
    _dedup_pairs,
    _schema,
    fold_tiles,
)


def composite_layers(
    sources: list[DataFrame], target_extent: int | None = None
) -> DataFrame:
    """U1/U2: merge layer tables from several sources. Duplicate
    (z,x,y,layer) keeps the EARLIEST source (first-wins — the
    reference's skip-duplicate policy). Returns a layers table ready
    for fold_tiles. Pass target_extent to force the slow path (decode →
    rescale → re-encode) on blobs whose extent differs."""
    if not sources:
        raise ValueError("composite_layers: no source layer tables")
    tagged = None
    for rank, src in enumerate(sources):
        t = src.select(*LAYER_COLS).withColumn("_rank", F.lit(rank))
        tagged = t if tagged is None else tagged.unionByName(t)

    def merge_group(key, cols, sl) -> list[tuple]:
        z, x, y, layer = int(key[0]), int(key[1]), int(key[2]), str(key[3])
        # rows are rank-sorted: first one wins (U2)
        i = sl.start
        blob = cols["blob"][i]
        if target_extent is not None:
            blob = rescale_layer_blob(bytes(blob), target_extent)
        return [
            (
                z,
                x,
                y,
                layer,
                blob,
                int(cols["n_features"][i]),
                int(cols["n_points"][i]),
            )
        ]

    return apply_grouped(
        tagged,
        keys=["z", "x", "y", "layer"],
        order_by=["z", "x", "y", "layer", "_rank"],
        fn=merge_group,
        schema=LAYER_SCHEMA,
        out_columns=LAYER_COLS,
    )


def composite_tiles(
    sources: list[DataFrame], target_extent: int | None = None
) -> DataFrame:
    """EP3 end-to-end: layer tables in, merged Tile buffers out."""
    return fold_tiles(composite_layers(sources, target_extent))


def rescale_layer_blob(blob: bytes, to_extent: int) -> bytes:
    """Slow-path re-encode: scale tile-local ints to the new extent
    with tilemath.round_half_away_np (std::round / view_strategy
    parity — floor(x+0.5) would round negative buffer halves the
    wrong way), keeping key/value dictionaries as RAW bytes so value
    oneof types survive verbatim (a decode/encode round trip would
    normalize uint_value/float_value/sint_value). Geometry decodes
    under the LAYER'S version (v1 layers get the reference decoder's
    tolerant mode — degenerate parts dropped, see
    geomcodec.decode_geometry); features that still fail structurally
    are DROPPED, not raised — one bad foreign feature must not abort
    the composite job."""
    d = pbf.split_layer(blob)
    from_extent = d["extent"]
    if from_extent == to_extent:
        return blob
    s = to_extent / from_extent
    feats = []
    for fid, gtype, tags, raw_geom, raw_raster in d["features"]:
        try:
            xs, ys, offs = gc.decode_geometry(
                int(gtype),
                pbf._varints_small(raw_geom).astype(np.int64),
                version=int(d["version"]),
            )
        except ValueError:
            continue
        px = tm.round_half_away_np(xs.astype(np.float64) * s)
        py = tm.round_half_away_np(ys.astype(np.float64) * s)
        stream = gc.encode_geometry(int(gtype), px, py, offs)
        if len(stream) == 0:
            continue
        raw2 = pbf.varint_bytes_np(np.asarray(stream, dtype=np.uint64))
        feats.append((fid, gtype, tags, raw2, raw_raster))
    return pbf.rebuild_layer_raw(
        d["name"], d["version"], to_extent, d["keys"],
        d["raw_values"], feats,
    )


# --- P5 validity -----------------------------------------------------------------


def layer_is_valid(blob: bytes) -> tuple[bool, list[str]]:
    ok, reasons, _name = _layer_valid_named(blob)
    return ok, reasons


def _layer_valid_named(blob: bytes) -> tuple[bool, list[str], str | None]:
    """src/vector_tile_is_valid.hpp layer rules: version ∈ {1,2},
    non-empty name, extent > 0, known geom types, tag indices inside
    dictionaries, geometry command streams well-formed. Returns the
    layer name from the same single parse."""
    reasons: list[str] = []
    try:
        d = pbf.decode_layer(blob)
    except Exception as e:  # malformed protobuf
        return False, [f"unparseable: {e}"], None
    if d["version"] not in (1, 2):
        reasons.append("bad version")
    if not d["name"]:
        reasons.append("empty name")
    if d["extent"] <= 0:
        reasons.append("bad extent")
    for f in d["features"]:
        if int(f["type"]) not in (1, 2, 3):
            reasons.append("unknown geom type")
            break
        t = f["tags"]
        if len(t) % 2 == 1:
            reasons.append("odd tag count")
            break
        if len(t) and (
            max(t[0::2], default=0) >= len(d["keys"])
            or max(t[1::2], default=0) >= len(d["values"])
        ):
            reasons.append("tag index out of range")
            break
        try:
            gc.decode_geometry(
                int(f["type"]),
                f["geometry"].astype(np.int64),
                version=d["version"] if d["version"] in (1, 2) else 2,
            )
        except Exception:
            reasons.append("bad geometry stream")
            break
    return (not reasons), reasons, d["name"]


def tile_is_valid(tile: bytes) -> tuple[bool, list[str]]:
    """Tile rules: parseable, ≥1 layer, unique non-empty layer names,
    every layer valid. One decode per layer (the name comes from the
    same parse layer_is_valid already did)."""
    try:
        layers = pbf.decode_tile(pbf.maybe_decompress(tile))
    except Exception as e:
        return False, [f"unparseable tile: {e}"]
    if not layers:
        return False, ["no layers"]
    reasons: list[str] = []
    names = []
    for lmsg in layers:
        ok, why, name = _layer_valid_named(lmsg)
        if not ok:
            reasons.extend(why)
        if name is not None:
            names.append(name)
    if len(set(names)) != len(names):
        reasons.append("duplicate layer name")
    return (not reasons), reasons


_VALID_SCHEMA = _schema(
    *_ZXY, ("valid", BooleanType()), ("reasons", ArrayType(StringType()))
)


def validate_tiles(tiles: DataFrame) -> DataFrame:
    """P5 as a DataFrame operator: (z,x,y, valid, reasons). Narrow
    vectorized scan — used as a filter and a test assertion."""

    def gen(batches):
        for pdf in batches:
            valid, reasons = [], []
            for t in pdf["tile"]:
                ok, why = tile_is_valid(bytes(t))
                valid.append(ok)
                reasons.append(why)
            out = pdf[["z", "x", "y"]].copy()
            out["valid"] = valid
            out["reasons"] = reasons
            yield out

    return tiles.mapInPandas(gen, schema=_VALID_SCHEMA)


# --- EP3 slow path across zoom levels: overzoom ----------------------------------


def _overzoom_children_ref(
    blob: bytes,
    dz: int,
    buffer_units: int = 128,
    simplify_distance: float = 0.0,
    area_threshold: float = 0.0,
    child_extent: int | None = None,
) -> list[tuple[int, int, bytes, int, int]]:
    """Naive reference twin of overzoom_children: full per-(child,
    feature) envelope scan over all 4^dz children. Kept ONLY as the
    byte-identity pin for the candidate-range fast path (same
    fast-vs-generic discipline as the geometry codec); production
    callers use overzoom_children."""
    d = pbf.split_layer(blob)
    pe = int(d["extent"])
    extent = int(child_extent) if child_extent is not None else pe
    s = 1 << dz
    if (extent << dz) % pe:
        raise ValueError("child_extent*2^dz must divide the parent extent")
    f = (extent << dz) // pe
    decoded = []
    for fid, gtype, tags, raw_geom, raw_raster in d["features"]:
        try:
            xs, ys, offs = gc.decode_geometry(
                int(gtype),
                pbf._varints_small(raw_geom).astype(np.int64),
                version=int(d["version"]),
            )
        except ValueError:
            continue  # structurally corrupt feature: drop, don't abort
        if not len(xs):
            continue
        fx = xs.astype(np.float64) * f
        fy = ys.astype(np.float64) * f
        decoded.append(
            (fid, int(gtype), tags, raw_raster, fx, fy, offs,
             fx.min(), fx.max(), fy.min(), fy.max())
        )

    out: list[tuple[int, int, bytes, int, int]] = []
    lo = float(-buffer_units)
    hi = float(extent + buffer_units)
    for cy in range(s):
        oy = cy * extent
        for cx in range(s):
            ox = cx * extent
            feats = []
            n_pts = 0
            for (fid, gtype, tags, raw_raster, fx, fy, offs,
                 exl, exh, eyl, eyh) in decoded:
                # envelope reject in child units
                if exh - ox < lo or exl - ox > hi or eyh - oy < lo or eyl - oy > hi:
                    continue
                tx = fx - ox
                ty = fy - oy
                if gtype == gc.GEOM_POINT:
                    px, py = clipmod.clip_points(tx, ty, lo, lo, hi, hi)
                    if not len(px):
                        continue
                    px = px.astype(np.int64)  # exact: ints scaled by 2^dz
                    py = py.astype(np.int64)
                    px, py = _dedup_pairs(px, py)
                    stream = gc.encode_geometry(
                        gc.GEOM_POINT, px, py, np.array([0, len(px)])
                    )
                elif gtype == gc.GEOM_LINESTRING:
                    parts = []
                    for p in range(len(offs) - 1):
                        parts.extend(
                            clipmod.clip_line(
                                tx[offs[p]: offs[p + 1]],
                                ty[offs[p]: offs[p + 1]],
                                lo, lo, hi, hi,
                            )
                        )
                    if not parts:
                        continue
                    px = tm.round_half_away_np(
                        np.concatenate([p[0] for p in parts])
                    )
                    py = tm.round_half_away_np(
                        np.concatenate([p[1] for p in parts])
                    )
                    poffs = np.cumsum([0] + [len(p[0]) for p in parts])
                    if simplify_distance > 0:
                        px, py, poffs = simp.simplify_rings(
                            px, py, poffs, simplify_distance, closed=False
                        )
                    stream = gc.encode_geometry(
                        gc.GEOM_LINESTRING, px, py, poffs
                    )
                elif gtype == gc.GEOM_POLYGON:
                    cfx, cfy, roffs = clipmod.clip_polygon(
                        tx, ty, offs, lo, lo, hi, hi
                    )
                    if not len(cfx):
                        continue
                    px = tm.round_half_away_np(cfx)
                    py = tm.round_half_away_np(cfy)
                    px, py = pipmod.normalize_ring_winding(
                        px, py, roffs, gc.signed_area2
                    )
                    if simplify_distance > 0:
                        px, py, roffs = simp.simplify_rings(
                            px, py, roffs, simplify_distance, closed=True
                        )
                    if area_threshold > 0:
                        px, py, roffs = clipmod.drop_small_rings(
                            px, py, roffs, area_threshold, gc.signed_area2
                        )
                        if not len(px):
                            continue
                    stream = gc.encode_geometry(gc.GEOM_POLYGON, px, py, roffs)
                else:
                    continue
                if len(stream) == 0:
                    continue
                raw2 = pbf.varint_bytes_np(np.asarray(stream, dtype=np.uint64))
                feats.append((fid, gtype, tags, raw2, raw_raster))
                n_pts += len(px)
            if feats:
                child = pbf.rebuild_layer_raw(
                    d["name"], d["version"], extent, d["keys"],
                    d["raw_values"], feats,
                )
                out.append((cx, cy, child, len(feats), n_pts))
    return out



def overzoom_layers(
    layers: DataFrame,
    dz: int,
    buffer_units: int = 128,
    simplify_distance: float = 0.0,
    area_threshold: float = 0.0,
    redistribute: bool = False,
    child_extent: int | None = None,
) -> DataFrame:
    """Overzoom a whole layers table by dz levels: every (z,x,y,layer)
    parent row fans out to its painted children at z+dz. A NARROW
    1->4^dz flatMap (mapInPandas) — no shuffle, no driver collect; at
    100 TB each task streams its parent blobs and emits children
    in-place, so the stage scales with input splits.

    ``redistribute=True`` is the FEW-PARENTS/DEEP-dz shape (e.g. one
    z0 world tile -> 4096 z6 children): the narrow path's parallelism
    is bounded by the PARENT count, so instead the (parent, child)
    pairs are exploded FIRST and hash-repartitioned, and each task
    renders exactly one child (overzoom_children's single-child
    clamp). Costs one shuffle of the parent blobs x 4^dz and a parent
    re-decode per child — worth it only when parents are few and hot;
    the default narrow path is right for bulk corpora. Output rows are
    identical either way (asserted in tests)."""
    import pandas as pd

    if dz < 1:
        raise ValueError("overzoom_layers: dz must be >= 1")
    s = 1 << dz

    if redistribute:
        exploded = layers.withColumn(
            "cq", F.explode(F.sequence(F.lit(0), F.lit(s * s - 1)))
        ).repartition("z", "x", "y", "layer", "cq")

        def gen_one(it):
            for pdf in it:
                rows = {c: [] for c in LAYER_COLS}
                for z, x, y, layer, blob, cq in zip(
                    pdf["z"], pdf["x"], pdf["y"], pdf["layer"],
                    pdf["blob"], pdf["cq"],
                ):
                    cx, cy = int(cq) % s, int(cq) // s
                    for _cx, _cy, child, nf, npts in overzoom_children(
                        bytes(blob), dz, buffer_units,
                        simplify_distance, area_threshold,
                        child=(cx, cy), child_extent=child_extent,
                    ):
                        rows["z"].append(int(z) + dz)
                        rows["x"].append(int(x) * s + cx)
                        rows["y"].append(int(y) * s + cy)
                        rows["layer"].append(layer)
                        rows["blob"].append(child)
                        rows["n_features"].append(nf)
                        rows["n_points"].append(npts)
                yield pd.DataFrame(rows)

        return exploded.mapInPandas(gen_one, schema=LAYER_SCHEMA)

    def gen(it):
        for pdf in it:
            rows = {c: [] for c in LAYER_COLS}
            for z, x, y, layer, blob in zip(
                pdf["z"], pdf["x"], pdf["y"], pdf["layer"], pdf["blob"]
            ):
                for cx, cy, child, nf, npts in overzoom_children(
                    bytes(blob), dz, buffer_units,
                    simplify_distance, area_threshold,
                    child_extent=child_extent,
                ):
                    rows["z"].append(int(z) + dz)
                    rows["x"].append(int(x) * s + cx)
                    rows["y"].append(int(y) * s + cy)
                    rows["layer"].append(layer)
                    rows["blob"].append(child)
                    rows["n_features"].append(nf)
                    rows["n_points"].append(npts)
            yield pd.DataFrame(rows)

    return layers.mapInPandas(gen, schema=LAYER_SCHEMA)


def _oz_clip_encode(
    gtype: int,
    tx: np.ndarray,
    ty: np.ndarray,
    offs: np.ndarray,
    flo: float,
    fhi: float,
    simplify_distance: float,
    area_threshold: float,
):
    """Per-(feature, child) clip->quantize->winding->simplify->encode
    chain in child tile units (forward encode path order). Returns
    (stream, n_points) or None when the feature degenerates."""
    if gtype == gc.GEOM_POINT:
        px, py = clipmod.clip_points(tx, ty, flo, flo, fhi, fhi)
        if not len(px):
            return None
        px = px.astype(np.int64)  # exact: ints scaled by 2^dz
        py = py.astype(np.int64)
        px, py = _dedup_pairs(px, py)
        stream = gc.encode_geometry(
            gc.GEOM_POINT, px, py, np.array([0, len(px)])
        )
    elif gtype == gc.GEOM_LINESTRING:
        parts = []
        for p in range(len(offs) - 1):
            parts.extend(
                clipmod.clip_line(
                    tx[offs[p]: offs[p + 1]],
                    ty[offs[p]: offs[p + 1]],
                    flo, flo, fhi, fhi,
                )
            )
        if not parts:
            return None
        px = tm.round_half_away_np(np.concatenate([p[0] for p in parts]))
        py = tm.round_half_away_np(np.concatenate([p[1] for p in parts]))
        poffs = np.cumsum([0] + [len(p[0]) for p in parts])
        if simplify_distance > 0:
            px, py, poffs = simp.simplify_rings(
                px, py, poffs, simplify_distance, closed=False
            )
        stream = gc.encode_geometry(gc.GEOM_LINESTRING, px, py, poffs)
    elif gtype == gc.GEOM_POLYGON:
        cfx, cfy, roffs = clipmod.clip_polygon(
            tx, ty, offs, flo, flo, fhi, fhi
        )
        if not len(cfx):
            return None
        px = tm.round_half_away_np(cfx)
        py = tm.round_half_away_np(cfy)
        px, py = pipmod.normalize_ring_winding(px, py, roffs, gc.signed_area2)
        if simplify_distance > 0:
            px, py, roffs = simp.simplify_rings(
                px, py, roffs, simplify_distance, closed=True
            )
        if area_threshold > 0:
            px, py, roffs = clipmod.drop_small_rings(
                px, py, roffs, area_threshold, gc.signed_area2
            )
            if not len(px):
                return None
        stream = gc.encode_geometry(gc.GEOM_POLYGON, px, py, roffs)
    else:
        return None
    if len(stream) == 0:
        return None
    return stream, len(px)


def overzoom_children(
    blob: bytes,
    dz: int,
    buffer_units: int = 128,
    simplify_distance: float = 0.0,
    area_threshold: float = 0.0,
    child: tuple[int, int] | None = None,
    child_extent: int | None = None,
) -> list[tuple[int, int, bytes, int, int]]:
    """Reference composite slow path when source and target tile
    addresses differ (src/vector_tile_composite.hpp: each source layer
    is wrapped in tile_datasource_pbf and re-rendered by the processor
    against the TARGET tile — an arbitrary scale+offset re-transform,
    re-clip, re-encode). The tile-server use is overzooming: serving
    z>max_stored tiles from the deepest stored ancestor.

    One parent layer blob -> its (2^dz)^2 children at z+dz. The
    transform is exact integer math (X = px*2^dz - cx*extent); clip
    runs in child tile units against [-buffer, extent+buffer] with the
    SAME kernels and stage order as the forward encode path
    (make_encode_kernel: clip -> quantize -> winding -> simplify ->
    area_threshold -> encode), so overzoom output obeys every invariant
    the forward path does. Dictionaries are carried as RAW bytes
    (rescale_layer_blob rationale: no oneof normalization).

    Each feature is routed ONLY to its candidate children via exact
    integer range math on the transformed envelope (ceil/floor
    divisions — at most ceil(env/extent)+1 children per axis), so cost
    scales with output size, not with 4^dz; single-point features (the
    bulk of an image-footprint corpus) skip numpy and the clip chain
    entirely — membership, zigzag and varint bytes are computed with
    pure ints, byte-identical to the generic chain (pinned against
    _overzoom_children_ref in tests).

    ``child_extent`` sets the CHILDREN's extent (default: inherit the
    parent's). The coordinate transform generalizes to the integer
    factor f = child_extent·2^dz / parent_extent (must divide evenly):
    X = px·f − cx·child_extent. The wafer path (encode_wafer_tiles)
    encodes a parent at extent 4096·2^dz so f = 1 — child derivation
    is then a PURE INTEGER TRANSLATION of the shared grid, no
    precision change at all; the classic overzoom keeps f = 2^dz.

    Returns [(cx, cy, child_blob, n_features, n_points)] for painted
    children only (P4 empty-drop), in (cy, cx) row-major order."""
    d = pbf.split_layer(blob)
    pe = int(d["extent"])
    extent = int(child_extent) if child_extent is not None else pe
    s = 1 << dz
    if (extent << dz) % pe:
        raise ValueError(
            f"overzoom_children: child_extent*2^dz ({extent << dz}) must "
            f"be a multiple of the parent extent ({pe}) for exact "
            f"integer coordinates"
        )
    f = (extent << dz) // pe  # exact integer coordinate scale
    lo = -int(buffer_units)
    hi = extent + int(buffer_units)
    flo, fhi = float(lo), float(hi)
    # child=(cx,cy) restricts routing to ONE child (the redistribute
    # path: one task renders one child, so a z0->z6 overzoom of a
    # single parent parallelizes across 4^6 tasks instead of 1)
    ccx = ccy = None
    if child is not None:
        ccx, ccy = int(child[0]), int(child[1])

    per_child: dict[tuple[int, int], list] = {}
    for fid, gtype, tags, raw_geom, raw_raster in d["features"]:
        try:
            xs, ys, offs = gc.decode_geometry(
                int(gtype),
                pbf._varints_small(raw_geom).astype(np.int64),
                version=int(d["version"]),
            )
        except ValueError:
            continue  # structurally corrupt feature: drop, don't abort
        if not len(xs):
            continue
        gtype = int(gtype)
        if gtype == gc.GEOM_POINT and len(xs) == 1:
            vx = int(xs[0]) * f
            vy = int(ys[0]) * f
            cx0 = max(0, -((hi - vx) // extent))
            cx1 = min(s - 1, (vx - lo) // extent)
            cy0 = max(0, -((hi - vy) // extent))
            cy1 = min(s - 1, (vy - lo) // extent)
            if ccx is not None:
                cx0, cx1 = max(cx0, ccx), min(cx1, ccx)
                cy0, cy1 = max(cy0, ccy), min(cy1, ccy)
            for cy in range(cy0, cy1 + 1):
                ly = vy - cy * extent
                zzy = ly << 1 if ly >= 0 else ((-ly) << 1) - 1
                for cx in range(cx0, cx1 + 1):
                    lx = vx - cx * extent
                    zzx = lx << 1 if lx >= 0 else ((-lx) << 1) - 1
                    per_child.setdefault((cx, cy), []).append(
                        (fid, gtype, tags, raw_raster,
                         pbf.varints_py((9, zzx, zzy)), 1, None)
                    )
            continue
        fx = xs.astype(np.float64) * f
        fy = ys.astype(np.float64) * f
        exl, exh = int(fx.min()), int(fx.max())  # exact int-valued floats
        eyl, eyh = int(fy.min()), int(fy.max())
        cx0 = max(0, -((hi - exl) // extent))
        cx1 = min(s - 1, (exh - lo) // extent)
        cy0 = max(0, -((hi - eyl) // extent))
        cy1 = min(s - 1, (eyh - lo) // extent)
        if ccx is not None:
            cx0, cx1 = max(cx0, ccx), min(cx1, ccx)
            cy0, cy1 = max(cy0, ccy), min(cy1, ccy)
        for cy in range(cy0, cy1 + 1):
            for cx in range(cx0, cx1 + 1):
                per_child.setdefault((cx, cy), []).append(
                    (fid, gtype, tags, raw_raster,
                     None, 0, (fx, fy, offs))
                )

    out: list[tuple[int, int, bytes, int, int]] = []
    for cx, cy in sorted(per_child, key=lambda k: (k[1], k[0])):
        ox = cx * extent
        oy = cy * extent
        feats = []
        n_pts = 0
        for (fid, gtype, tags, raw_raster, raw2, npts, todo) in per_child[
            (cx, cy)
        ]:
            if todo is not None:
                fx, fy, offs = todo
                r = _oz_clip_encode(
                    gtype, fx - ox, fy - oy, offs, flo, fhi,
                    simplify_distance, area_threshold,
                )
                if r is None:
                    continue
                stream, npts = r
                raw2 = pbf.varint_bytes_np(np.asarray(stream, dtype=np.uint64))
            feats.append((fid, gtype, tags, raw2, raw_raster))
            n_pts += npts
        if feats:
            child = pbf.rebuild_layer_raw(
                d["name"], d["version"], extent, d["keys"],
                d["raw_values"], feats,
            )
            out.append((cx, cy, child, len(feats), n_pts))
    return out


def tiles_to_layers(tiles: DataFrame) -> DataFrame:
    """EP3 source adapter: split stored Tile buffers back into layer
    rows (z, x, y, layer, blob, n_features, n_points) — what a tile
    server does before compositing or overzooming from its store. One
    narrow decode scan (maybe_decompress + length-delimited split +
    per-layer header parse); NO geometry decode, so it costs bytes,
    not features. fold_tiles ∘ tiles_to_layers == identity on the
    Tile buffer (layer order is preserved by the wire format and
    re-sorted deterministically by fold_tiles)."""
    import pandas as pd

    def gen(it):
        for pdf in it:
            rows = {c: [] for c in LAYER_COLS}
            for z, x, y, tile in zip(
                pdf["z"], pdf["x"], pdf["y"], pdf["tile"]
            ):
                for lmsg in pbf.decode_tile(pbf.maybe_decompress(bytes(tile))):
                    d = pbf.split_layer(lmsg)
                    n_feats = len(d["features"])
                    rows["z"].append(int(z))
                    rows["x"].append(int(x))
                    rows["y"].append(int(y))
                    rows["layer"].append(d["name"])
                    rows["blob"].append(lmsg)
                    rows["n_features"].append(n_feats)
                    # n_points unknown without geometry decode; carry
                    # the feature count (callers needing exact point
                    # counts decode downstream)
                    rows["n_points"].append(n_feats)
            yield pd.DataFrame(rows)

    return tiles.mapInPandas(gen, schema=LAYER_SCHEMA)


def diff_tiles(a: DataFrame, b: DataFrame) -> DataFrame:
    """Content diff of two tile stores (the delta-update shape a tile
    server ships to CDNs): per-address content signature, full outer
    join on the address, signature compare. Returns only differing
    addresses with status 'removed' (in a only), 'added' (in b only)
    or 'changed' (both, different content). Because the encode
    pipeline is byte-deterministic (W1 ordering + dictionary
    determinism, pinned by the salted/unsalted byte-equality tests),
    equal content always signs equal — the diff never reports
    spurious changes.

    The signature is the SORTED SET of tile-byte hashes per address,
    so a store holding duplicate rows for one (z,x,y) (append-written
    tables) still diffs deterministically — duplicate-vs-single of
    the same bytes compares equal, and exactly one row per differing
    address is emitted. Hashes are computed before any exchange, so
    tile bytes never cross a shuffle; the join is co-partitioned with
    the two aggregations (one shuffle per side)."""
    def sig(df: DataFrame, name: str) -> DataFrame:
        return (
            df.select("z", "x", "y", F.xxhash64("tile").alias("h"))
            .groupBy("z", "x", "y")
            .agg(F.sort_array(F.collect_set("h")).alias(name))
        )

    j = sig(a, "sa").join(sig(b, "sb"), ["z", "x", "y"], "full_outer")
    return j.filter(
        F.col("sa").isNull()
        | F.col("sb").isNull()
        | (F.col("sa") != F.col("sb"))
    ).select(
        "z",
        "x",
        "y",
        F.when(F.col("sb").isNull(), F.lit("removed"))
        .when(F.col("sa").isNull(), F.lit("added"))
        .otherwise(F.lit("changed"))
        .alias("status"),
    )


def overzoom_band(
    parents: DataFrame,
    base_z: int,
    dz_max: int,
    buffer_units: int = 128,
    redistribute: bool = False,
) -> DataFrame:
    """Children z+1 .. z+dz_max of a parents LAYER table, folded to
    Tile buffers, plus the reconstructed PARENT address columns
    (px, py — `x >> (z - base_z)` is exact) that both serving paths
    key on (the batch job's resume bucket, the streaming refresh's
    version stamp). ONE shared derivation so the two paths cannot
    drift on buffer or address math (they briefly did: 64 vs 128).

    Callers iterating multiple dz levels should persist `parents`
    first — each level is an independent narrow branch over it."""
    if dz_max < 1:
        raise ValueError("overzoom_band: dz_max must be >= 1")
    band = None
    for dz in range(1, dz_max + 1):
        lvl = overzoom_layers(
            parents, dz, buffer_units=buffer_units, redistribute=redistribute
        )
        band = lvl if band is None else band.unionByName(lvl)
    kids = fold_tiles(band)
    return kids.withColumn(
        "px", F.expr(f"shiftrightunsigned(x, z - {base_z})")
    ).withColumn("py", F.expr(f"shiftrightunsigned(y, z - {base_z})"))


def downzoom_parent_layer(
    children,
    simplify_distance: float = 0.0,
    area_threshold: float = 0.0,
    dedupe_fids: bool = False,
) -> tuple[bytes, int, int] | None:
    """U5 rollup kernel: up to four sibling layer blobs at z+1 -> ONE
    parent layer blob at z (the inverse of overzoom_children — the
    bottom-up pyramid build a tile pipeline uses to derive every
    ancestor level from the base zoom instead of re-scanning source).

    ``children`` = [(cx, cy, blob)] with quadrant cx, cy in {0, 1}
    (child address = parent*2 + quadrant). The coordinate transform is
    the exact integer floor-shift X = (px + cx*extent) >> 1 (arithmetic
    shift: floor semantics for buffered negatives, so the DuckDB twin's
    FLOOR((px + cx*E)/2) replays it bit-for-bit). It is the exact
    inverse of overzoom's X = px*2^dz - cx*extent, so
    downzoom ∘ overzoom is the identity on coordinates; versus a direct
    encode at z it can differ by <= 1 integer unit (the quantizer
    rounds half-away, the rollup floors) — the standard derived-tile
    tradeoff, pinned in tests.

    Quadrants are processed in (cy, cx) row-major order and features
    keep their within-child wire order, so the output bytes are
    deterministic. Key/value dictionaries are merged first-appearance
    with RAW value bytes (build_layer_merged — no oneof
    normalization). ``dedupe_fids`` drops EXACT duplicate features —
    same id, same transformed geometry bytes, same properties/raster —
    the shape buffered children produce when a seam-straddling feature
    appears whole in more than one sibling (halved coordinates agree,
    so the copies collapse). CLIPPED fragments of one feature are NOT
    duplicates (their geometries differ) and are all kept: the parent
    renders the union of the fragments, which is the correct derived
    content. Mixed (version, extent) quadrants
    raise (splice_merge_layers precedent: splicing unrescaled bytes
    across extents silently changes scale).

    Returns (parent_blob, n_features, n_points) or None when every
    feature degenerates (P4 empty-drop)."""
    kids = sorted(children, key=lambda c: (c[1], c[0]))
    seen_ve: set[tuple[int, int]] = set()
    feats = []
    n_pts = 0
    name = None
    seen: set[tuple] = set()
    wide = float(1 << 40)
    for cx, cy, blob in kids:
        d = pbf.split_layer(bytes(blob))
        seen_ve.add((d["version"], d["extent"]))
        if len(seen_ve) > 1:
            raise ValueError(
                f"downzoom_parent_layer: sibling blobs disagree on "
                f"(version, extent): {sorted(seen_ve)}"
            )
        name = d["name"]
        extent = int(d["extent"])
        ox = int(cx) * extent
        oy = int(cy) * extent
        keys = d["keys"]
        vals = d["raw_values"]
        rv = pbf._read_varint
        for fid, gtype, tags, raw_geom, raw_raster in d["features"]:
            gtype = int(gtype)
            # single-point fast path on the RAW stream (the bulk of an
            # image-footprint corpus): three bounds-checked varints and
            # pure-int shift/zigzag — no numpy allocation per feature
            # (the generic chain cost ~115 µs/feature; this is ~2 µs,
            # pinned by the downzoom kernel-bench mode). Byte parity
            # with the generic path is asserted in tests.
            if gtype == gc.GEOM_POINT:
                try:
                    cmd, p = rv(raw_geom, 0)
                    if cmd == 9:
                        zx, p = rv(raw_geom, p)
                        zy, p = rv(raw_geom, p)
                        if p == len(raw_geom):
                            vx = (((zx >> 1) ^ -(zx & 1)) + ox) >> 1
                            vy = (((zy >> 1) ^ -(zy & 1)) + oy) >> 1
                            zzx = vx << 1 if vx >= 0 else ((-vx) << 1) - 1
                            zzy = vy << 1 if vy >= 0 else ((-vy) << 1) - 1
                            stream_b = pbf.varints_py((9, zzx, zzy))
                            props = [
                                (keys[tags[i]], vals[tags[i + 1]])
                                for i in range(0, len(tags), 2)
                            ]
                            if dedupe_fids:
                                key = (
                                    fid, gtype, stream_b, tuple(props),
                                    raw_raster,
                                )
                                if key in seen:
                                    continue
                                seen.add(key)
                            feats.append(
                                (fid, gtype, props, stream_b, raw_raster)
                            )
                            n_pts += 1
                            continue
                except ValueError:
                    continue  # truncated stream: drop like the chain
            try:
                xs, ys, offs = gc.decode_geometry(
                    gtype,
                    pbf._varints_small(raw_geom).astype(np.int64),
                    version=int(d["version"]),
                )
            except ValueError:
                continue  # structurally corrupt feature: drop
            if not len(xs):
                continue
            if gtype == gc.GEOM_POINT and len(xs) == 1:
                vx = (int(xs[0]) + ox) >> 1
                vy = (int(ys[0]) + oy) >> 1
                zzx = vx << 1 if vx >= 0 else ((-vx) << 1) - 1
                zzy = vy << 1 if vy >= 0 else ((-vy) << 1) - 1
                stream_b = pbf.varints_py((9, zzx, zzy))
                npts = 1
            else:
                tx = np.right_shift(xs + ox, 1).astype(np.float64)
                ty = np.right_shift(ys + oy, 1).astype(np.float64)
                r = _oz_clip_encode(
                    gtype, tx, ty, offs, -wide, wide,
                    simplify_distance, area_threshold,
                )
                if r is None:
                    continue
                stream, npts = r
                stream_b = pbf.varint_bytes_np(
                    np.asarray(stream, dtype=np.uint64)
                )
            props = [
                (keys[tags[i]], vals[tags[i + 1]])
                for i in range(0, len(tags), 2)
            ]
            if dedupe_fids:
                key = (fid, gtype, stream_b, tuple(props), raw_raster)
                if key in seen:
                    continue
                seen.add(key)
            feats.append((fid, gtype, props, stream_b, raw_raster))
            n_pts += npts
    if not feats:
        return None
    blob = pbf.build_layer_merged(
        name, next(iter(seen_ve))[0], next(iter(seen_ve))[1], feats
    )
    return blob, len(feats), n_pts


def downzoom_layers(
    layers: DataFrame,
    simplify_distance: float = 0.0,
    area_threshold: float = 0.0,
    dedupe_fids: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """U5: one pyramid level of child->parent rollup over a LAYER
    table — every (z, x, y, layer) at the input zoom contributes to
    parent (z-1, x>>1, y>>1, layer).

    Scale shape: ONE shuffle keyed on (parent address, layer) with a
    hard 4-row fan-in bound per group — no skew is possible (the
    hottest parent sees exactly its four quadrants), so no salting is
    needed, unlike the forward encode. At 100 TB this is the cheap
    direction: each level reads the (much smaller) tile table of the
    level below, never the source."""
    pre = layers.select(
        (F.col("z") - F.lit(1)).cast("int").alias("z"),
        F.shiftright("x", 1).alias("x"),
        F.shiftright("y", 1).alias("y"),
        F.col("layer"),
        F.expr("CAST(x & 1 AS INT)").alias("cx"),
        F.expr("CAST(y & 1 AS INT)").alias("cy"),
        F.col("blob"),
    )

    def roll(key, cols, sl):
        r = downzoom_parent_layer(
            list(zip(cols["cx"][sl], cols["cy"][sl], cols["blob"][sl])),
            simplify_distance=simplify_distance,
            area_threshold=area_threshold,
            dedupe_fids=dedupe_fids,
        )
        if r is None:
            return None
        blob, nf, npts = r
        z, x, y, layer = key
        return [(int(z), int(x), int(y), layer, blob, nf, npts)]

    return apply_grouped(
        pre,
        keys=["z", "x", "y", "layer"],
        order_by=["z", "x", "y", "layer", "cy", "cx"],
        fn=roll,
        schema=LAYER_SCHEMA,
        out_columns=LAYER_COLS,
        num_partitions=num_partitions,
    )


def downzoom_band(
    layers: DataFrame,
    to_z: int,
    simplify_distance: float = 0.0,
    area_threshold: float = 0.0,
    dedupe_fids: bool = False,
    persisted_out: list | None = None,
) -> DataFrame:
    """Bottom-up pyramid build: derive every level from the input zoom
    down to ``to_z`` by successive 4->1 rollups, returning the UNION
    of all derived levels as one layer table (fold_tiles-ready).

    Each level is persisted before the next consumes it: level k is
    both an output branch and the input of level k-1, and without the
    persist Spark would replay the whole chain per branch (O(L^2)
    shuffles for L levels instead of O(L)). Short-lived batch callers
    can let session teardown reclaim the cache; LONG-LIVED callers
    (the streaming ancestor refresh runs this every micro-batch) must
    pass ``persisted_out`` — the per-level handles are appended to it
    so the caller can unpersist after consuming the band.

    The input zoom is inferred per-row from the z column, so a mixed-z
    input is rejected loudly rather than silently rolled into
    overlapping addresses. The INPUT is persisted too (appended to
    ``persisted_out`` like the derived levels): the zoom check's
    distinct-z job evaluates every input partition anyway — caching
    there means the (expensive) upstream that produced the base level
    runs ONCE instead of once for the check plus once for the first
    rollup; default MEMORY_AND_DISK spills, so this is safe at the
    base level's full size."""
    src = layers.persist()
    if persisted_out is not None:
        persisted_out.append(src)
    # the distinct's map stage touches every partition -> full cache
    zs = [r[0] for r in src.select("z").distinct().limit(2).collect()]
    if len(zs) != 1:
        src.unpersist()
        raise ValueError(
            f"downzoom_band: input must hold exactly one zoom level, "
            f"saw {sorted(zs)}"
        )
    base_z = int(zs[0])
    if not 0 <= to_z < base_z:
        src.unpersist()
        raise ValueError(
            f"downzoom_band: need 0 <= to_z < base z, got to_z={to_z} "
            f"base={base_z}"
        )
    band = None
    cur = src
    for _ in range(base_z - to_z):
        cur = downzoom_layers(
            cur,
            simplify_distance=simplify_distance,
            area_threshold=area_threshold,
            dedupe_fids=dedupe_fids,
        ).persist()
        if persisted_out is not None:
            persisted_out.append(cur)
        band = cur if band is None else band.unionByName(cur)
    return band


def tilejson_layers(layers: DataFrame) -> DataFrame:
    """TileJSON 3.0 ``vector_layers`` summary per layer over a LAYER
    table — the metadata block every tile server publishes next to its
    store: per-layer min/max zoom, tile and feature counts, and the
    EXACT mercator bounding box of painted tiles at the layer's max
    zoom (west/south/east/north; tile->mercator is the dyadic
    (x·2W)/2^z − W, bit-identical across engines, so the whole row
    value-hashes).

    Scale shape: groupBy (layer, z) FIRST — the map-side partial
    absorbs the billions-of-tiles dimension locally — then a k-row
    groupBy(layer) with arg-max selection of the max-zoom extent. Two
    shuffles, the second over |layers|·|zooms| rows only."""
    from mapnik_vector_tile_spark.functions.tilemath import W

    per_z = layers.groupBy("layer", "z").agg(
        F.count("*").alias("nt"),
        F.sum("n_features").alias("nf"),
        F.min("x").alias("xmin"),
        F.max("x").alias("xmax"),
        F.min("y").alias("ymin"),
        F.max("y").alias("ymax"),
    )
    agg = per_z.groupBy("layer").agg(
        F.min("z").cast("int").alias("minzoom"),
        F.max("z").cast("int").alias("maxzoom"),
        F.sum("nt").cast("bigint").alias("n_tiles"),
        F.sum("nf").cast("bigint").alias("n_features"),
        F.max_by("xmin", "z").alias("bxmin"),
        F.max_by("xmax", "z").alias("bxmax"),
        F.max_by("ymin", "z").alias("bymin"),
        F.max_by("ymax", "z").alias("bymax"),
    )
    two_w = F.lit(2.0 * W)
    p2 = F.pow(F.lit(2.0), F.col("maxzoom").cast("double"))
    return agg.select(
        "layer",
        "minzoom",
        "maxzoom",
        "n_tiles",
        "n_features",
        ((F.col("bxmin") * two_w) / p2 - F.lit(W)).alias("west_merc"),
        (F.lit(W) - ((F.col("bymax") + F.lit(1)) * two_w) / p2).alias(
            "south_merc"
        ),
        (((F.col("bxmax") + F.lit(1)) * two_w) / p2 - F.lit(W)).alias(
            "east_merc"
        ),
        (F.lit(W) - (F.col("bymin") * two_w) / p2).alias("north_merc"),
    )


def tilejson(layers: DataFrame, tiles_url: str, name: str = "mvt-spark") -> dict:
    """Assemble the actual TileJSON 3.0 document (driver-side; the
    aggregate is k rows). ``bounds`` converts the mercator box to
    lon/lat (inverse Web-Mercator; only this presentation step is
    transcendental — the oracled DataFrame stays exact)."""
    import math

    from mapnik_vector_tile_spark.functions.tilemath import W

    rows = tilejson_layers(layers).collect()
    if not rows:
        raise ValueError("tilejson: empty layer table")

    def lon(mx):
        return mx / W * 180.0

    def lat(my):
        return math.degrees(
            2.0 * math.atan(math.exp(my / W * math.pi)) - math.pi / 2.0
        )

    west = min(r["west_merc"] for r in rows)
    south = min(r["south_merc"] for r in rows)
    east = max(r["east_merc"] for r in rows)
    north = max(r["north_merc"] for r in rows)
    return {
        "tilejson": "3.0.0",
        "name": name,
        "tiles": [tiles_url],
        "minzoom": min(r["minzoom"] for r in rows),
        "maxzoom": max(r["maxzoom"] for r in rows),
        "bounds": [lon(west), lat(south), lon(east), lat(north)],
        "center": [
            lon((west + east) / 2.0),
            lat((south + north) / 2.0),
            min(r["minzoom"] for r in rows),
        ],
        "vector_layers": [
            {
                "id": r["layer"],
                "minzoom": r["minzoom"],
                "maxzoom": r["maxzoom"],
                "fields": {},
            }
            for r in sorted(rows, key=lambda r: r["layer"])
        ],
    }


_FILTER_OPS = {
    "==": lambda a, b: a == b,
    "!=": lambda a, b: a != b,
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
    "has": lambda a, b: True,
}


def filter_layer_features(
    layers: DataFrame,
    key: str,
    op: str = "has",
    value=None,
    keep_keys: list[str] | None = None,
    rename: str | None = None,
) -> DataFrame:
    """Tile-transform (the tilelive/tile-join server-side reshape a
    mapnik-vector-tile store goes through before re-serving): keep
    only features whose decoded attribute ``key`` satisfies
    ``op value``, optionally project properties to ``keep_keys`` and
    rename the layer. The predicate is a declarative (key, op, value)
    triple — comparable relationally, so the oracle replays it in SQL.

    Geometry bytes pass through VERBATIM; surviving properties keep
    their RAW Value bytes (no oneof normalization) with dictionaries
    rebuilt first-appearance, so output layers are byte-deterministic.
    Features missing the key, or with a value type incomparable to the
    operand, do not match (SQL NULL-comparison semantics). Layers left
    empty are dropped (P4). One narrow blob→blob scan: no shuffle,
    decode cost ∝ tag indices + the per-layer value dictionary (never
    geometry)."""
    import pandas as pd

    if op not in _FILTER_OPS:
        raise ValueError(
            f"filter_layer_features: op must be one of "
            f"{sorted(_FILTER_OPS)}, got {op!r}"
        )
    opf = _FILTER_OPS[op]

    def gen(it):
        for pdf in it:
            rows = {c: [] for c in LAYER_COLS}
            for z, x, y, lname, blob in zip(
                pdf["z"], pdf["x"], pdf["y"], pdf["layer"], pdf["blob"]
            ):
                d = pbf.split_layer(bytes(blob))
                keys = d["keys"]
                vals = d["raw_values"]
                dec = [pbf.decode_value(v) for v in vals]
                feats = []
                for fid, gtype, tags, raw_geom, raw_raster in d["features"]:
                    match = False
                    props = []
                    for i in range(0, len(tags), 2):
                        k = keys[tags[i]]
                        if k == key:
                            try:
                                match = opf(dec[tags[i + 1]], value)
                            except TypeError:
                                match = False
                        if keep_keys is None or k in keep_keys:
                            props.append((k, vals[tags[i + 1]]))
                    if match:
                        feats.append(
                            (fid, int(gtype), props, raw_geom, raw_raster)
                        )
                if not feats:
                    continue  # P4: not painted after the filter
                out_name = rename if rename is not None else d["name"]
                nb = pbf.build_layer_merged(
                    out_name, d["version"], d["extent"], feats
                )
                rows["z"].append(int(z))
                rows["x"].append(int(x))
                rows["y"].append(int(y))
                rows["layer"].append(out_name)
                rows["blob"].append(nb)
                rows["n_features"].append(len(feats))
                rows["n_points"].append(len(feats))
            yield pd.DataFrame(rows)

    return layers.mapInPandas(gen, schema=LAYER_SCHEMA)


def pyramid_orphans(tiles: DataFrame, z_min: int | None = None) -> DataFrame:
    """Tile-store integrity audit: addresses at z > z_min whose PARENT
    address (z-1, x>>1, y>>1) is absent from the store — the broken-
    zoom-chain defect a partially failed/pruned pyramid build leaves
    behind (serving then 404s mid-zoom). ``z_min`` defaults to the
    store's minimum zoom. Returns (z, x, y, parent_x, parent_y).

    Shape: one DISTINCT address projection and one left-anti equi-join
    on the parent address — partial-agg'd and AQE-splittable; tile
    BYTES never enter the plan (address columns only), so the audit
    costs metadata, not content."""
    addrs = tiles.select("z", "x", "y").distinct()
    if z_min is None:
        z_min = addrs.agg(F.min("z")).collect()[0][0]
        if z_min is None:
            raise ValueError("pyramid_orphans: empty tile store")
    kids = addrs.filter(F.col("z") > int(z_min)).select(
        "z",
        "x",
        "y",
        F.shiftright("x", 1).alias("parent_x"),
        F.shiftright("y", 1).alias("parent_y"),
        (F.col("z") - 1).alias("parent_z"),
    )
    parents = addrs.select(
        F.col("z").alias("parent_z"),
        F.col("x").alias("parent_x"),
        F.col("y").alias("parent_y"),
    )
    return kids.join(
        parents, ["parent_z", "parent_x", "parent_y"], "left_anti"
    ).select("z", "x", "y", "parent_x", "parent_y")


_ATTR_VALUES_SCHEMA = _schema(
    ("layer", StringType()),
    ("attr", StringType()),
    ("vtype", StringType()),
    ("value_key", StringType()),
    ("value_repr", StringType()),
    ("value_num", DoubleType()),
    ("cnt", LongType()),
)


def layer_attribute_stats(layers: DataFrame) -> DataFrame:
    """Mapbox-tilestats-shape attribute statistics over a LAYER table
    (the ``tilestats`` block tippecanoe/tileserver publish beside
    TileJSON): per (layer, attribute) — the tilestats type class,
    feature count, exact distinct-value count, numeric min/max, and
    the most frequent discrete value (count-desc, repr-asc tiebreak).

    Kernel stage: one narrow blob scan pre-aggregates value counts
    WITHIN each blob against its own (already deduplicated) key/value
    dictionaries — rows leaving the scan are bounded by dictionary
    sizes, not feature counts. Then two partial-agg'd shuffles on
    (layer, attr[, value]) plus a tiny top-value join. Double values
    contribute min/max but never a repr (cross-engine float formatting
    is not part of the contract); ints, bools and strings carry
    deterministic reprs."""
    import pandas as pd

    def gen(it):
        for pdf in it:
            out = {
                "layer": [], "attr": [], "vtype": [], "value_key": [],
                "value_repr": [], "value_num": [], "cnt": [],
            }
            for lname, blob in zip(pdf["layer"], pdf["blob"]):
                d = pbf.split_layer(bytes(blob))
                keys = d["keys"]
                dec = [pbf.decode_value(v) for v in d["raw_values"]]
                counts: dict[tuple[int, int], int] = {}
                for _fid, _gt, tags, _rg, _rr in d["features"]:
                    for i in range(0, len(tags), 2):
                        k = (tags[i], tags[i + 1])
                        counts[k] = counts.get(k, 0) + 1
                for (ki, vi), c in counts.items():
                    v = dec[vi]
                    vk = d["raw_values"][vi].hex()
                    if isinstance(v, bool):
                        vt, vr, vn = "boolean", ("true" if v else "false"), None
                    elif isinstance(v, int):
                        vt, vr, vn = "number", str(v), float(v)
                    elif isinstance(v, float):
                        vt, vr, vn = "number", None, v
                    else:
                        vt, vr, vn = "string", str(v), None
                    out["layer"].append(lname)
                    out["attr"].append(keys[ki])
                    out["vtype"].append(vt)
                    out["value_key"].append(vk)
                    out["value_repr"].append(vr)
                    out["value_num"].append(vn)
                    out["cnt"].append(c)
            yield pd.DataFrame(out)

    vals = layers.mapInPandas(gen, schema=_ATTR_VALUES_SCHEMA)
    # identity for distinct-counting is the RAW Value encoding (bit-
    # exact, engine-internal) — doubles never need a cross-engine repr
    per_value = vals.groupBy(
        "layer", "attr", "vtype", "value_key", "value_repr"
    ).agg(
        F.sum("cnt").alias("cnt"),
        F.min("value_num").alias("vmin"),
        F.max("value_num").alias("vmax"),
    )
    stats = per_value.groupBy("layer", "attr").agg(
        # tilestats convention: an attribute seen with more than one
        # type class reports 'mixed', never a lexicographic winner
        F.when(
            F.count_distinct("vtype") > 1, F.lit("mixed")
        ).otherwise(F.max("vtype")).alias("vtype"),
        F.sum("cnt").cast("bigint").alias("n_features"),
        F.count("*").cast("bigint").alias("n_distinct"),
        F.min("vmin").alias("min_num"),
        F.max("vmax").alias("max_num"),
        F.max(
            F.when(F.col("value_repr").isNotNull(), F.col("cnt"))
        ).alias("_topcnt"),
    )
    top = (
        per_value.alias("v")
        .join(
            stats.select("layer", "attr", "_topcnt").alias("s"),
            (F.col("v.layer") == F.col("s.layer"))
            & (F.col("v.attr") == F.col("s.attr"))
            & (F.col("v.cnt") == F.col("s._topcnt"))
            & F.col("v.value_repr").isNotNull(),
        )
        .groupBy(F.col("v.layer").alias("layer"), F.col("v.attr").alias("attr"))
        .agg(F.min("v.value_repr").alias("top_value"))
    )
    return (
        stats.join(top, ["layer", "attr"], "left")
        .select(
            "layer", "attr", "vtype", "n_features", "n_distinct",
            "min_num", "max_num", "top_value",
        )
    )


# --- U9: solid-tile detection (is_solid_extent) -----------------------------


def is_solid_extent(buf: bytes) -> tuple[bool, bool, str, int]:
    """mapnik-vector-tile's solid-tile heuristic (ref:
    src/vector_tile_util.hpp — is_solid_extent(tile, key)), the test
    tilelive-bridge used to store one shared blob for ocean/landmass
    tiles and prune identical descendants.

    Returns (solid, covers, key, n_features):

    * ``solid`` — the faithful reference heuristic: the tile has >= 1
      feature, EVERY feature is a polygon, and NO decoded vertex lies
      strictly inside the layer extent's interior (0 < x < extent AND
      0 < y < extent — both axes simultaneously, matching the
      reference's per-coordinate early-out). A fully-clipped solid
      fill has vertices only on/outside the extent box, so it passes;
      any real detail inside the tile fails. Empty tiles are NOT
      solid (the store wants them dropped, not deduped).
    * ``covers`` — the semantic check the heuristic approximates:
      every extent corner is even-odd inside >= 1 polygon feature.
      The known false-positive class (a polygon overlapping only a
      corner, all vertices beyond the clip box) has solid=True,
      covers=False — kept as two columns precisely so stores can
      choose the cheap heuristic or the exact gate. Corner-on-edge
      geometry is boundary-ambiguous under the half-open crossing
      rule (functions/pip.py) and is pinned by tests, not promised.
    * ``key`` — layer names joined with '-' in tile order (the
      reference fills its out-param `key` this way for blob dedup).
    * ``n_features`` — total decoded features (0 for empty tiles).
    """
    corners_known = False
    corner_cov = np.zeros(4, dtype=bool)
    names: list[str] = []
    n_features = 0
    all_polys = True
    any_interior = False
    for lblob in pbf.decode_tile(buf):
        d = pbf.split_layer(lblob)
        names.append(d["name"] or "")
        extent = int(d["extent"])
        version = int(d["version"])
        qx = np.array([0.0, float(extent), float(extent), 0.0])
        qy = np.array([0.0, 0.0, float(extent), float(extent)])
        corners_known = True
        for _fid, gtype, _tags, raw_geom, _raster in d["features"]:
            n_features += 1
            if int(gtype) != gc.GEOM_POLYGON:
                all_polys = False
                continue
            try:
                xs, ys, offs = gc.decode_geometry(
                    int(gtype),
                    pbf._varints_small(raw_geom).astype(np.int64),
                    version=version,
                )
            except ValueError:
                all_polys = False  # undecodable: certainly not a clean fill
                continue
            if ((xs > 0) & (xs < extent) & (ys > 0) & (ys < extent)).any():
                any_interior = True
            corner_cov |= pipmod.points_in_polygon(
                qx, qy, xs.astype(np.float64), ys.astype(np.float64),
                np.asarray(offs, dtype=np.int64),
            )
    solid = n_features > 0 and all_polys and not any_interior
    covers = bool(corners_known and corner_cov.all())
    return solid, covers, "-".join(names), n_features


_SOLID_SCHEMA = _schema(
    *_ZXY,
    ("solid", BooleanType()),
    ("covers", BooleanType()),
    ("key", StringType()),
    ("n_features", LongType()),
)


def solid_tiles(tiles: DataFrame) -> DataFrame:
    """U9 as a DataFrame operator over a (z,x,y,tile) store:
    (z, x, y, solid, covers, key, n_features). Narrow blob scan — no
    shuffle, no geometry leaves the kernel; at 100 TB this is a
    map-only pass whose output is 4 scalars/tile, the shape a
    store-dedup or mask-level job wants to groupBy afterwards."""

    def gen(batches):
        for pdf in batches:
            solid, covers, key, nf = [], [], [], []
            for t in pdf["tile"]:
                s, c, k, n = is_solid_extent(bytes(t))
                solid.append(s)
                covers.append(c)
                key.append(k)
                nf.append(n)
            out = pdf[["z", "x", "y"]].copy()
            out["solid"] = solid
            out["covers"] = covers
            out["key"] = key
            out["n_features"] = np.asarray(nf, dtype=np.int64)
            yield out

    return tiles.mapInPandas(gen, schema=_SOLID_SCHEMA)


# --- U10: attribute enrichment join (tile-join CSV semantics) ---------------

_NO_KEY = object()  # unhashable-proof miss sentinel for join_attributes


def join_attributes(
    layers: DataFrame,
    attrs: DataFrame,
    on: str,
    how: str = "left",
) -> DataFrame:
    """Tile-store attribute enrichment — the tippecanoe ``tile-join``
    CSV operation rebuilt for a distributed store: join an attribute
    table onto every encoded feature whose ``on`` property (or feature
    id when ``on == "$id"``) matches the table's first column, append
    the remaining columns as new typed properties, and rebuild the
    layer dictionaries first-appearance. ``how='left'`` keeps
    unmatched features untouched (tile-join's default); ``'inner'``
    drops them (its --if-matched reshape); layers left empty drop
    (P4).

    Scale shape: the attribute table is a DIMENSION (a CSV of region
    attributes, never the fact side) — it is collected once and
    explicitly ``sparkContext.broadcast`` so every executor holds ONE
    copy, then the join itself is a narrow blob→blob scan: no
    shuffle, geometry bytes pass through verbatim, existing property
    values keep their RAW wire bytes. New values encode once per
    attribute ROW at the driver (not per feature). A fact-sized attrs
    table wants the relational path instead (decode → equi-join →
    regroup); this operator is the store-side fast path.

    Matching compares the DECODED typed value to the attr key (int,
    string, bool — same equality the wire dictionaries preserve);
    doubles are legal but discouraged as join keys. None attr cells
    are skipped (no property written), matching tile-join's empty-cell
    behavior."""
    import pandas as pd

    if how not in ("left", "inner"):
        raise ValueError(f"join_attributes: how must be left|inner, got {how!r}")
    cols = attrs.columns
    if len(cols) < 2:
        raise ValueError("join_attributes: attrs needs key + >=1 value column")
    # Deterministic duplicate-key resolution SHARED with the
    # relational path (max value-struct wins) — without this the
    # collect() below keeps whichever duplicate arrives last, a
    # partition-order accident that diverges between the two paths.
    attrs = _dedup_attrs(attrs)
    amap: dict = {}
    for r in attrs.collect():
        amap[r[0]] = [
            (cols[i], pbf.encode_value(r[i]))
            for i in range(1, len(cols))
            if r[i] is not None
        ]
    bcast = layers.sparkSession.sparkContext.broadcast(amap)
    by_id = on == "$id"

    def gen(it):
        lookup = bcast.value
        for pdf in it:
            rows = {c: [] for c in LAYER_COLS}
            for z, x, y, lname, blob in zip(
                pdf["z"], pdf["x"], pdf["y"], pdf["layer"], pdf["blob"]
            ):
                d = pbf.split_layer(bytes(blob))
                keys = d["keys"]
                vals = d["raw_values"]
                dec = None if by_id else [pbf.decode_value(v) for v in vals]
                feats = []
                for fid, gtype, tags, raw_geom, raw_raster in d["features"]:
                    # a feature missing the join property matches NOTHING
                    # (SQL NULL-join semantics), it must not fall back to id
                    jk = fid if by_id else _NO_KEY
                    props = []
                    for i in range(0, len(tags), 2):
                        k = keys[tags[i]]
                        props.append((k, vals[tags[i + 1]]))
                        if not by_id and k == on:
                            jk = dec[tags[i + 1]]
                    new = lookup.get(jk)
                    if new is not None:
                        props.extend(new)
                    elif how == "inner":
                        continue
                    feats.append(
                        (fid, int(gtype), props, raw_geom, raw_raster)
                    )
                if not feats:
                    continue  # P4
                nb = pbf.build_layer_merged(
                    d["name"], d["version"], d["extent"], feats
                )
                rows["z"].append(int(z))
                rows["x"].append(int(x))
                rows["y"].append(int(y))
                rows["layer"].append(d["name"])
                rows["blob"].append(nb)
                rows["n_features"].append(len(feats))
                rows["n_points"].append(len(feats))
            yield pd.DataFrame(rows)

    return layers.mapInPandas(gen, schema=LAYER_SCHEMA)


# --- U11: tile byte-budget enforcement ---------------------------------------


def trim_tile_to_budget(layers: DataFrame, budget_bytes: int) -> DataFrame:
    """Tile size-budget enforcement — the tippecanoe contract (tiles
    over ~500 KB are rejected by renderers; tippecanoe drops features
    until the tile fits): keep the longest PREFIX of each layer's
    features, in stored order (W1 feature order == producer priority
    order), whose cumulative wire size fits ``budget_bytes``; rebuild
    the layer (dictionaries re-derived from the survivors, so dropped
    features' keys/values don't linger); drop layers left empty (P4).

    The size of a feature is its EXACT wire footprint inside the
    layer: the re-encoded Feature message plus its field-2 tag and
    length varint — measured from real bytes, never estimated, so the
    oracle's closed-form varint arithmetic gates the codec's size
    math. Measurement simulates the rebuild's FIRST-APPEARANCE
    dictionary assignment (tag indices are re-derived before sizing,
    tentative dict entries committed only for kept features), so the
    measured prefix size equals the emitted stream size even when the
    stored layer's dictionaries are not first-appearance ordered —
    original indices can be shorter varints than the re-derived ones,
    and sizing with them could emit an over-budget stream. Budget covers the feature stream only (the layer
    name/version/extent/dictionary framing is the store's fixed
    overhead and is reported, not budgeted). Narrow blob→blob scan,
    no shuffle. Output: LAYER_SCHEMA with trimmed blobs."""
    import pandas as pd

    if budget_bytes <= 0:
        raise ValueError("trim_tile_to_budget: budget_bytes must be > 0")

    def gen(it):
        for pdf in it:
            rows = {c: [] for c in LAYER_COLS}
            for z, x, y, lname, blob in zip(
                pdf["z"], pdf["x"], pdf["y"], pdf["layer"], pdf["blob"]
            ):
                d = pbf.split_layer(bytes(blob))
                keys = d["keys"]
                vals = d["raw_values"]
                kept = []
                used = 0
                key_map: dict = {}  # mirrors build_layer_merged's
                val_map: dict = {}  # first-appearance assignment
                for fid, gtype, tags, raw_geom, raw_raster in d["features"]:
                    # Tentative re-derived tag indices for THIS feature;
                    # committed to the maps only if the feature is kept,
                    # so the kept prefix's dictionaries match the
                    # rebuild's exactly.
                    tk: dict = {}
                    tv: dict = {}
                    new_tags = []
                    for i in range(0, len(tags), 2):
                        k = keys[tags[i]]
                        v = vals[tags[i + 1]]
                        ki = key_map.get(k)
                        if ki is None:
                            ki = tk.setdefault(k, len(key_map) + len(tk))
                        vi = val_map.get(v)
                        if vi is None:
                            vi = tv.setdefault(v, len(val_map) + len(tv))
                        new_tags.append(ki)
                        new_tags.append(vi)
                    geom = pbf._varints_small(raw_geom).astype(np.int64)
                    msg = pbf.encode_feature(
                        fid, int(gtype), geom, new_tags, raw_raster
                    )
                    sz = 1 + len(pbf.varint_of(len(msg))) + len(msg)
                    if used + sz > budget_bytes:
                        break  # prefix contract: stop at first overflow
                    used += sz
                    key_map.update(tk)
                    val_map.update(tv)
                    props = [
                        (keys[tags[i]], vals[tags[i + 1]])
                        for i in range(0, len(tags), 2)
                    ]
                    kept.append(
                        (fid, int(gtype), props, raw_geom, raw_raster)
                    )
                if not kept:
                    continue
                nb = pbf.build_layer_merged(
                    d["name"], d["version"], d["extent"], kept
                )
                rows["z"].append(int(z))
                rows["x"].append(int(x))
                rows["y"].append(int(y))
                rows["layer"].append(d["name"])
                rows["blob"].append(nb)
                rows["n_features"].append(len(kept))
                rows["n_points"].append(len(kept))
            yield pd.DataFrame(rows)

    return layers.mapInPandas(gen, schema=LAYER_SCHEMA)


def prunable_solid_children(solid: DataFrame) -> DataFrame:
    """U9b mask-level pruning (the tilelive/tessera 'maskLevel'
    optimization built on is_solid_extent): given solid_tiles output
    for ONE zoom level, find the children a store can DROP because
    their parent quad is uniformly solid — all four siblings exist,
    all are solid, and all share the same layer ``key`` (so serving
    the parent's blob overzoomed is byte-equivalent for any renderer).
    Returns the prunable child addresses with their parent:
    (z, x, y, parent_x, parent_y, key).

    Shape: one partial-agg'd groupBy on the parent address + an
    equi-join back — address-only columns, tile bytes never move.
    Composes with downzoom (build parents) and overzoom (re-serve
    pruned children) for the full storage loop."""
    kids = solid.select(
        "z", "x", "y", "solid", "key",
        F.shiftright("x", 1).alias("px"),
        F.shiftright("y", 1).alias("py"),
    )
    quads = (
        kids.groupBy("z", "px", "py")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("solid").cast("int")).alias("n_solid"),
            F.countDistinct("key").alias("n_keys"),
        )
        .filter(
            (F.col("n") == 4)
            & (F.col("n_solid") == 4)
            & (F.col("n_keys") == 1)
        )
        .select("z", "px", "py")
    )
    return kids.join(quads, ["z", "px", "py"]).select(
        "z", "x", "y",
        F.col("px").alias("parent_x"),
        F.col("py").alias("parent_y"),
        "key",
    )


def join_attributes_relational(
    layers: DataFrame,
    attrs: DataFrame,
    on: str,
    how: str = "left",
) -> DataFrame:
    """The FACT-SCALE path of join_attributes — for attribute tables
    too large to broadcast (a per-image metadata table the size of the
    corpus): instead of shipping the dimension to every executor, the
    join key of every encoded feature is EXTRACTED in one narrow scan
    (tile address + feature index + decoded key — geometry bytes never
    leave the blob), shuffled through a plain equi-join against the
    attribute table (AQE-sized, skew-splittable), regrouped per tile
    as a (feature_idx → attrs) list, and applied in a final blob→blob
    kernel that rebuilds dictionaries exactly like the broadcast path.

    Output contract is IDENTICAL to join_attributes — gated by running
    both paths on the same corpus against one oracle (the hier-cover
    discipline). Three narrow kernels + one shuffle on the join key +
    one address-grouped shuffle; the blob table is read twice (narrow
    recompute beats re-shuffling blobs at 100 TB, same trade as
    encode_tiles' branch recompute)."""
    import pandas as pd

    if how not in ("left", "inner"):
        raise ValueError(
            f"join_attributes_relational: how must be left|inner, got {how!r}"
        )
    cols = attrs.columns
    if len(cols) < 2:
        raise ValueError("join_attributes_relational: attrs needs key + cols")
    by_id = on == "$id"
    jk_type = _attrs_jk_type(attrs)
    attrs = _dedup_attrs(attrs)

    def extract(it):
        for pdf in it:
            rows = {"z": [], "x": [], "y": [], "layer": [], "fidx": [],
                    "_jk": []}
            for z, x, y, lname, blob in zip(
                pdf["z"], pdf["x"], pdf["y"], pdf["layer"], pdf["blob"]
            ):
                d = pbf.split_layer(bytes(blob))
                keys = d["keys"]
                vals = d["raw_values"]
                dec = None if by_id else [
                    pbf.decode_value(v) for v in vals
                ]
                for fi, (fid, gtype, tags, _g, _r) in enumerate(
                    d["features"]
                ):
                    jk = fid if by_id else None
                    if not by_id:
                        for i in range(0, len(tags), 2):
                            if keys[tags[i]] == on:
                                jk = dec[tags[i + 1]]
                    # coerce the decoded wire value to the attrs key
                    # type under Python-dict equality (the broadcast
                    # path's semantics: True==1, 7.0==7, "7"!=7); a
                    # type that can never equal the key → no candidate
                    # row (SQL null-join), never an Arrow type crash
                    jk = _coerce_jk(jk, jk_type)
                    if jk is None:
                        continue  # no key: can never match
                    rows["z"].append(int(z))
                    rows["x"].append(int(x))
                    rows["y"].append(int(y))
                    rows["layer"].append(lname)
                    rows["fidx"].append(fi)
                    rows["_jk"].append(jk)
            yield pd.DataFrame(rows)

    kdf = layers.mapInPandas(
        extract,
        schema=_schema(
            *_ZXY,
            ("layer", StringType()),
            ("fidx", IntegerType()),
            ("_jk", _JK_TYPES[jk_type]),
        ),
    )
    adf = attrs.select(
        F.col(cols[0]).cast(jk_type).alias("_jk"),
        F.struct(*[F.col(c) for c in cols[1:]]).alias("_attrs"),
    )
    m = kdf.join(adf, "_jk")
    grouped = m.groupBy("z", "x", "y", "layer").agg(
        F.sort_array(F.collect_list(F.struct("fidx", "_attrs"))).alias("_m")
    )
    enriched = layers.join(grouped, ["z", "x", "y", "layer"], "left")
    names = cols[1:]

    def apply(it):
        for pdf in it:
            rows = {c: [] for c in LAYER_COLS}
            for z, x, y, lname, blob, matches in zip(
                pdf["z"], pdf["x"], pdf["y"], pdf["layer"], pdf["blob"],
                pdf["_m"],
            ):
                mmap = {}
                if matches is not None:
                    for s in matches:
                        a = s["_attrs"]
                        mmap[int(s["fidx"])] = [
                            (n, pbf.encode_value(a[n]))
                            for n in names
                            if a[n] is not None
                        ]
                d = pbf.split_layer(bytes(blob))
                keys = d["keys"]
                vals = d["raw_values"]
                feats = []
                for fi, (fid, gtype, tags, raw_geom, raw_raster) in (
                    enumerate(d["features"])
                ):
                    props = [
                        (keys[tags[i]], vals[tags[i + 1]])
                        for i in range(0, len(tags), 2)
                    ]
                    new = mmap.get(fi)
                    if new is not None:
                        props.extend(new)
                    elif how == "inner":
                        continue
                    feats.append(
                        (fid, int(gtype), props, raw_geom, raw_raster)
                    )
                if not feats:
                    continue
                nb = pbf.build_layer_merged(
                    d["name"], d["version"], d["extent"], feats
                )
                rows["z"].append(int(z))
                rows["x"].append(int(x))
                rows["y"].append(int(y))
                rows["layer"].append(d["name"])
                rows["blob"].append(nb)
                rows["n_features"].append(len(feats))
                rows["n_points"].append(len(feats))
            yield pd.DataFrame(rows)

    return enriched.mapInPandas(apply, schema=LAYER_SCHEMA)


_JK_TYPES = {"long": LongType(), "double": DoubleType(), "string": StringType()}


def _attrs_jk_type(attrs: DataFrame) -> str:
    """Canonical join-key column type for the relational path's
    extract kernel: integral + boolean keys join as ``long``, float
    keys as ``double``, text as ``string`` — mirroring Python-dict
    equality (True==1, 7.0==7) used by the broadcast path."""
    kt = attrs.schema[0].dataType.simpleString()
    if kt in ("bigint", "int", "smallint", "tinyint", "boolean"):
        return "long"
    if kt in ("double", "float"):
        return "double"
    if kt == "string":
        return "string"
    raise ValueError(
        f"join_attributes: unsupported attrs key type {kt!r} "
        "(int/boolean/float/double/string only — the MVT wire has no "
        "other value types to match against)"
    )


def _coerce_jk(jk, jk_type: str):
    """Coerce a DECODED wire value to the attrs key type under
    Python-dict equality; None = the value can never equal any key of
    that type (string "7" never matches bigint 7, exactly as the
    broadcast path's ``dict.get`` behaves)."""
    if jk is None:
        return None
    if jk_type == "long":
        if isinstance(jk, bool):
            return int(jk)
        if isinstance(jk, int):
            return jk if -(2**63) <= jk < 2**63 else None
        if isinstance(jk, float) and jk.is_integer():
            return int(jk) if -(2**63) <= jk < 2**63 else None
        return None
    if jk_type == "double":
        if isinstance(jk, (bool, int)):
            f = float(jk)
            # exact round-trip only: dict equality is EXACT, so an
            # int64 beyond 2^53 must not match the double it rounds to
            return f if f == jk else None
        if isinstance(jk, float):
            # NaN never matches under dict probing (fresh NaN object,
            # NaN != NaN); Spark's join would treat NaN = NaN as true,
            # so map it to the never-matching null instead
            return None if jk != jk else jk
        return None
    return jk if isinstance(jk, str) else None


def _dedup_attrs(attrs: DataFrame) -> DataFrame:
    """Deterministic duplicate-key resolution SHARED by both attribute
    join paths: per key, the row whose value-column struct is the MAX
    under Spark struct ordering wins (field-by-field, nulls smallest).
    The relational path's sort_array + last-assignment regroup already
    implements exactly this rule; running the same Spark aggregate on
    the dimension before the broadcast collect makes the two paths
    byte-identical on duplicate-key inputs instead of the broadcast
    side keeping a partition-order-dependent winner. NULL keys are
    dropped here for BOTH paths: the relational equi-join can never
    match them (SQL null-join), so the broadcast map must not hold a
    None entry that a fid-less feature's jk=None could accidentally
    hit."""
    cols = attrs.columns
    return (
        attrs.filter(F.col(cols[0]).isNotNull())
        .groupBy(cols[0])
        .agg(F.max(F.struct(*[F.col(c) for c in cols[1:]])).alias("_v"))
        .select(cols[0], *[F.col(f"_v.{c}").alias(c) for c in cols[1:]])
    )


def make_patch(a: DataFrame, b: DataFrame) -> DataFrame:
    """U14a: materialize the delta-update artifact the CDN publish
    step ships — diff_tiles statuses joined with the NEW tile bytes
    (added/changed carry b's blob; removed carries NULL). Applying it
    to store A (patch_tiles) reproduces store B byte-for-byte, which
    q_tile_patch gates end-to-end.

    Same scale shape as diff_tiles (hash before exchange, one shuffle
    per side) plus one address-key join against b for the payload."""
    d = diff_tiles(a, b)
    payload = b.select("z", "x", "y", F.col("tile").alias("new_tile"))
    return d.join(payload, ["z", "x", "y"], "left").select(
        "z", "x", "y", "status", F.col("new_tile").alias("tile")
    )


def patch_tiles(a: DataFrame, patch: DataFrame) -> DataFrame:
    """U14b: apply a make_patch artifact to store A. Every patched
    address is replaced wholesale (anti-join drops A's rows for ALL
    patch statuses), then added/changed rows contribute their new
    bytes — so duplicate-row addresses in A collapse to the patch's
    canonical content, matching diff_tiles' set-signature semantics.

    The anti-join broadcasts when the patch is small (the common
    delta-publish case); unpatched tiles stream through untouched."""
    drop = patch.select("z", "x", "y")
    kept = a.select("z", "x", "y", "tile").join(
        drop, ["z", "x", "y"], "left_anti"
    )
    adds = patch.filter(F.col("status") != "removed").select(
        "z", "x", "y", "tile"
    )
    return kept.unionByName(adds)
