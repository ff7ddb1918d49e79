"""ESRI Shapefile source + sink — S1 source parity widening
(SURVEY.md §2.1). The reference's mapnik layer reads shapefiles
through its flagship datasource plugin (public mapnik:
plugins/input/shape — shape_datasource / shape_featureset reading
.shp/.shx/.dbf per the public ESRI Shapefile Technical Description,
July 1998). This module is the Spark-native equivalent: a pure-python
struct/numpy codec for the three sidecar files plus a sharded
executor-side sink and a file-parallel source feeding the canonical
``operators.tiling.FEATURES_SCHEMA``.

Wire format implemented (the spec's 2D types, matching the engine's
2D pipeline): Null(0), Point(1), PolyLine(3), Polygon(5),
MultiPoint(8). Engine mapping: GEOM_POINT with one vertex → Point,
more → MultiPoint; GEOM_LINESTRING → PolyLine (parts = engine
part_offsets); GEOM_POLYGON → Polygon (flat ring list — the engine's
polygon model everywhere, winding classifies holes downstream, same
convention as the MVT wire). Z/M types (11-28) raise per the 2D
narrowing; records of an unexpected type inside a file are skipped
(mixed-corpus drop-the-feature policy, matching sources/wkt.py).

Coordinate payloads are fixed-stride IEEE doubles → every record's
vertices decode in ONE ``np.frombuffer`` (no per-vertex Python).
Attributes ride the dBASE III .dbf sidecar (FID numeric + CAPTION
character, the engine's two attribute columns); the .dbf timestamp is
pinned so shard files are byte-deterministic across runs.

Sink sharding: the .shp header carries ONE shape type, so each
partition writes one file per engine geometry type present
(``part-{pid}-t{type}.shp`` + .shx + .dbf), atomically published via
per-attempt tmp + os.replace (same speculative-execution-safe pattern
as the MBTiles sink). Re-runs are idempotent.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from mapnik_vector_tile_spark.functions import geomcodec as gc
from mapnik_vector_tile_spark.functions import tilemath as tm

SHP_NULL = 0
SHP_POINT = 1
SHP_POLYLINE = 3
SHP_POLYGON = 5
SHP_MULTIPOINT = 8

_ENGINE_TO_SHP = {
    gc.GEOM_LINESTRING: SHP_POLYLINE,
    gc.GEOM_POLYGON: SHP_POLYGON,
}
_SHP_TO_ENGINE = {
    SHP_POINT: gc.GEOM_POINT,
    SHP_MULTIPOINT: gc.GEOM_POINT,
    SHP_POLYLINE: gc.GEOM_LINESTRING,
    SHP_POLYGON: gc.GEOM_POLYGON,
}

CAPTION_WIDTH = 64  # dbf 'C' field width (captions truncate to fit)


def _shp_type_of(gtype: int, n_vertices: int) -> int:
    if gtype == gc.GEOM_POINT:
        return SHP_POINT if n_vertices == 1 else SHP_MULTIPOINT
    try:
        return _ENGINE_TO_SHP[gtype]
    except KeyError:
        raise ValueError(f"unknown engine geom_type {gtype}") from None


def _record_content(stype: int, xs, ys, offs) -> bytes:
    """One record's content block (shape type int32 LE + payload)."""
    x = np.asarray(xs, dtype="<f8")
    y = np.asarray(ys, dtype="<f8")
    pts = np.empty((len(x), 2), dtype="<f8")
    pts[:, 0] = x
    pts[:, 1] = y
    if stype == SHP_POINT:
        return struct.pack("<i", 1) + pts[0].tobytes()
    bbox = struct.pack(
        "<4d", float(x.min()), float(y.min()), float(x.max()), float(y.max())
    )
    if stype == SHP_MULTIPOINT:
        return (
            struct.pack("<i", SHP_MULTIPOINT)
            + bbox
            + struct.pack("<i", len(x))
            + pts.tobytes()
        )
    parts = np.asarray(offs[:-1], dtype="<i4")  # start index per part
    return (
        struct.pack("<i", stype)
        + bbox
        + struct.pack("<2i", len(parts), len(x))
        + parts.tobytes()
        + pts.tobytes()
    )


def encode_shp(records) -> tuple[bytes, bytes]:
    """records = iterable of (gtype, xs, ys, part_offsets), all of ONE
    engine geometry type → (.shp bytes, .shx bytes). Point records mix
    with MultiPoint only through the Point/MultiPoint pair (both are
    GEOM_POINT; the file's header type is the first record's — the
    spec allows Null fillers but not mixed real types, so mixing
    Point/MultiPoint raises)."""
    recs = list(records)
    if not recs:
        raise ValueError("encode_shp: empty record set")
    stypes = {_shp_type_of(g, len(xs)) for g, xs, _, _ in recs}
    if len(stypes) > 1:
        raise ValueError(
            f"encode_shp: one .shp holds one shape type, got {sorted(stypes)}"
        )
    stype = stypes.pop()
    bodies = []
    gxmin = gymin = float("inf")
    gxmax = gymax = float("-inf")
    for g, xs, ys, offs in recs:
        bodies.append(_record_content(stype, xs, ys, offs))
        gxmin = min(gxmin, min(xs))
        gxmax = max(gxmax, max(xs))
        gymin = min(gymin, min(ys))
        gymax = max(gymax, max(ys))
    total_words = 50  # header = 100 bytes = 50 words
    shp = bytearray()
    shx_recs = bytearray()
    for i, body in enumerate(bodies):
        clen_words = len(body) // 2
        shx_recs += struct.pack(">2i", total_words, clen_words)
        shp += struct.pack(">2i", i + 1, clen_words) + body
        total_words += 4 + clen_words
    header = (
        struct.pack(">i", 9994)
        + b"\x00" * 20
        + struct.pack(">i", total_words)
        + struct.pack("<2i", 1000, stype)
        + struct.pack("<8d", gxmin, gymin, gxmax, gymax, 0, 0, 0, 0)
    )
    shx_header = (
        header[:24]
        + struct.pack(">i", 50 + 4 * len(bodies))
        + header[28:]
    )
    return bytes(header) + bytes(shp), bytes(shx_header) + bytes(shx_recs)


def decode_shp(buf: bytes):
    """.shp bytes → list of (gtype, xs list, ys list, part_offsets
    list). Malformed structure raises ValueError; Null records and
    Z/M-typed records are skipped (2D narrowing, drop-the-feature)."""
    return [g for _, g in decode_shp_indexed(buf)]


def decode_shp_indexed(buf: bytes):
    """Like decode_shp but each geometry carries its 0-based RECORD
    ordinal (counting skipped Null/Z-M records too) — the join key the
    spec defines against the .dbf sidecar ("records ... must be in the
    same order as in the main file"); joining by surviving-geometry
    position instead would misattribute every feature after a skipped
    record."""
    try:
        return _decode_shp_inner(buf)
    except (struct.error, IndexError) as e:
        raise ValueError(f"malformed .shp stream: {e}") from e


def _decode_shp_inner(buf: bytes):
    if len(buf) < 100 or struct.unpack(">i", buf[:4])[0] != 9994:
        raise ValueError("not a shapefile (bad file code)")
    file_words = struct.unpack(">i", buf[24:28])[0]
    if file_words * 2 > len(buf):
        raise ValueError("truncated .shp (header length exceeds buffer)")
    version, _ftype = struct.unpack("<2i", buf[28:36])
    if version != 1000:
        raise ValueError(f"unsupported shapefile version {version}")
    out = []
    pos = 100
    end = file_words * 2
    ordinal = -1
    while pos + 8 <= end:
        _recno, clen_words = struct.unpack(">2i", buf[pos : pos + 8])
        body = buf[pos + 8 : pos + 8 + clen_words * 2]
        if len(body) != clen_words * 2:
            raise ValueError("truncated .shp record")
        pos += 8 + clen_words * 2
        ordinal += 1
        stype = struct.unpack("<i", body[:4])[0]
        if stype == SHP_NULL:
            continue
        if stype not in _SHP_TO_ENGINE:
            continue  # Z/M or unknown: drop the feature, never the task
        if stype == SHP_POINT:
            x, y = struct.unpack("<2d", body[4:20])
            out.append((ordinal, (gc.GEOM_POINT, [x], [y], [0, 1])))
            continue
        if stype == SHP_MULTIPOINT:
            (n,) = struct.unpack("<i", body[36:40])
            pts = np.frombuffer(body, "<f8", count=2 * n, offset=40).reshape(
                n, 2
            )
            out.append(
                (ordinal,
                 (gc.GEOM_POINT, pts[:, 0].tolist(), pts[:, 1].tolist(),
                  [0, n]))
            )
            continue
        nparts, npts = struct.unpack("<2i", body[36:44])
        parts = np.frombuffer(body, "<i4", count=nparts, offset=44)
        pts = np.frombuffer(
            body, "<f8", count=2 * npts, offset=44 + 4 * nparts
        ).reshape(npts, 2)
        offs = parts.tolist() + [npts]
        if any(offs[i] >= offs[i + 1] for i in range(nparts)):
            raise ValueError("non-monotone part offsets")
        out.append(
            (ordinal,
             (
                 _SHP_TO_ENGINE[stype],
                 pts[:, 0].tolist(),
                 pts[:, 1].tolist(),
                 offs,
             ))
        )
    return out


def encode_dbf(fids, captions) -> bytes:
    """dBASE III attribute sidecar: FID ('N', 18) + CAPTION ('C', 64).
    The last-update date is pinned (so shard files are byte-
    deterministic across runs — same rationale as the WDS sink's
    pinned tar headers)."""
    n = len(fids)
    rec_size = 1 + 18 + CAPTION_WIDTH
    header = struct.pack(
        "<4BI2H20x", 0x03, 26, 1, 1, n, 32 + 32 * 2 + 1, rec_size
    )
    f1 = b"FID".ljust(11, b"\x00") + b"N" + b"\x00" * 4 + bytes([18, 0]) + b"\x00" * 14
    f2 = (
        b"CAPTION".ljust(11, b"\x00")
        + b"C"
        + b"\x00" * 4
        + bytes([CAPTION_WIDTH, 0])
        + b"\x00" * 14
    )
    body = bytearray()
    for fid, cap in zip(fids, captions):
        body += b" "
        body += f"{int(fid):>18d}".encode("ascii")
        c = ("" if cap is None else str(cap)).encode("utf-8", "replace")[
            :CAPTION_WIDTH
        ]
        body += c.ljust(CAPTION_WIDTH, b" ")
    return header + f1 + f2 + b"\x0d" + bytes(body) + b"\x1a"


def decode_dbf(buf: bytes, keep_slots: bool = False):
    """dBASE III bytes → list of (fid int, caption str). Accepts any
    field layout that carries FID/CAPTION (extra fields are ignored);
    deleted rows ('*' flag) are skipped — unless ``keep_slots``, which
    returns one entry PER PHYSICAL ROW with None placeholders for
    deleted rows, preserving record ordinals for the .shp order join
    (xBase deleted rows still occupy their slot on disk)."""
    try:
        n, hsize, rsize = struct.unpack_from("<I2H", buf, 4)
        fields = []
        pos = 32
        while buf[pos] != 0x0D:
            name = buf[pos : pos + 11].split(b"\x00")[0].decode("ascii")
            ftype = chr(buf[pos + 11])
            width = buf[pos + 16]
            fields.append((name, ftype, width))
            pos += 32
        out = []
        for i in range(n):
            rec = buf[hsize + i * rsize : hsize + (i + 1) * rsize]
            if len(rec) < rsize or rec[0:1] == b"*":
                if keep_slots:
                    out.append(None)
                continue
            at = 1
            fid = None
            cap = ""
            for name, _ftype, width in fields:
                raw = rec[at : at + width]
                at += width
                if name == "FID":
                    fid = int(raw.decode("ascii").strip() or "0")
                elif name == "CAPTION":
                    cap = raw.decode("utf-8", "replace").rstrip(" ")
            out.append((fid, cap))
        return out
    except (struct.error, IndexError, UnicodeDecodeError) as e:
        raise ValueError(f"malformed .dbf stream: {e}") from e


# --- Spark sink -----------------------------------------------------------


def write_shapefile_shards(
    features: DataFrame,
    out_dir: str,
    num_shards: int | None = None,
) -> int:
    """Sharded shapefile sink over the canonical features schema:
    ``out_dir/part-{pid:05d}-t{gtype}.shp`` (+ .shx + .dbf) per
    (partition, geometry type), written executor-side. Rows hash-
    partition on feature_id so re-runs land every feature in the same
    shard; files publish atomically per attempt. Returns the shard
    partition count."""
    os.makedirs(out_dir, exist_ok=True)
    for f in os.listdir(out_dir):
        if f.startswith("part-") and f[-4:] in (".shp", ".shx", ".dbf"):
            os.remove(os.path.join(out_dir, f))
    n = num_shards or features.sparkSession.sparkContext.defaultParallelism
    df = features.select(
        "feature_id", "geom_type", "xs", "ys", "part_offsets", "caption"
    ).repartition(n, "feature_id")

    def write_partition(it):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        attempt = str(ctx.taskAttemptId())
        by_type: dict[int, list] = {}
        for r in it:
            by_type.setdefault(int(r.geom_type), []).append(r)
        for gtype, rows in by_type.items():
            # Point and MultiPoint cannot share one file: split
            # GEOM_POINT rows by vertex count into two files (suffix
            # tP/tM), each spec-compliantly single-typed
            groups = {}
            for r in rows:
                key = (
                    f"t{gtype}"
                    if gtype != gc.GEOM_POINT
                    else ("tP" if len(r.xs) == 1 else "tM")
                )
                groups.setdefault(key, []).append(r)
            for key, grows in groups.items():
                grows.sort(key=lambda r: int(r.feature_id))
                shp, shx = encode_shp(
                    (int(r.geom_type), list(r.xs), list(r.ys), list(r.part_offsets))
                    for r in grows
                )
                dbf = encode_dbf(
                    [int(r.feature_id) for r in grows],
                    [r.caption for r in grows],
                )
                base = os.path.join(out_dir, f"part-{pid:05d}-{key}")
                for ext, payload in ((".shp", shp), (".shx", shx), (".dbf", dbf)):
                    tmp = f"{base}{ext}.{attempt}.tmp"
                    with open(tmp, "wb") as fh:
                        fh.write(payload)
                    os.replace(tmp, base + ext)

    df.foreachPartition(write_partition)
    return n


# --- Spark source ---------------------------------------------------------


def read_shapefile(
    spark: SparkSession, path: str, to_merc: bool = True
) -> DataFrame:
    """Shapefile source: a single .shp file OR a directory of shards →
    the canonical features schema. One file per task row (the same
    file-parallel shape as the MBTiles source); FID/caption join by
    RECORD ORDINAL with the .dbf sidecar per the spec ("records in the
    dBASE file must be in the same order as in the main file") — the
    ordinal counts skipped Null/Z-M records and deleted dbf slots, so
    a spec-legal Null filler cannot shift every later feature onto its
    neighbor's attributes; a missing sidecar (or a missing/deleted
    slot) yields fid = ordinal + 1, caption ''."""
    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".shp")
        )
    else:
        files = [path]
    if not files:
        raise ValueError(f"no .shp files under {path}")
    fdf = spark.createDataFrame(
        pd.DataFrame({"path": files}), "path string"
    ).repartition(min(len(files), spark.sparkContext.defaultParallelism))

    def gen(batches):
        for pdf in batches:
            for p in pdf["path"]:
                with open(p, "rb") as fh:
                    geoms = decode_shp_indexed(fh.read())
                dbf_path = p[:-4] + ".dbf"
                attrs = None
                if os.path.exists(dbf_path):
                    with open(dbf_path, "rb") as fh:
                        attrs = decode_dbf(fh.read(), keep_slots=True)
                rows = {
                    "feature_id": [], "geom_type": [], "xs": [], "ys": [],
                    "part_offsets": [], "caption": [],
                }
                for ordinal, (g, xs, ys, offs) in geoms:
                    a = (
                        attrs[ordinal]
                        if attrs and ordinal < len(attrs)
                        else None
                    )
                    fid, cap = a if a is not None else (ordinal + 1, "")
                    rows["feature_id"].append(int(fid))
                    rows["geom_type"].append(int(g))
                    rows["xs"].append(xs)
                    rows["ys"].append(ys)
                    rows["part_offsets"].append(offs)
                    rows["caption"].append(cap)
                out = pd.DataFrame(rows)
                if to_merc and len(out):
                    lens = np.fromiter(
                        (len(a) for a in out["xs"]), np.int64, count=len(out)
                    )
                    cat_x = np.concatenate([np.asarray(a) for a in out["xs"]])
                    cat_y = np.concatenate([np.asarray(a) for a in out["ys"]])
                    mx, my = tm.lonlat_to_merc_np(cat_x, cat_y)
                    b = np.concatenate(([0], np.cumsum(lens)))
                    out["xs"] = [
                        mx[b[i] : b[i + 1]].tolist() for i in range(len(out))
                    ]
                    out["ys"] = [
                        my[b[i] : b[i + 1]].tolist() for i in range(len(out))
                    ]
                if len(out):
                    yield out

    from mapnik_vector_tile_spark.operators.tiling import FEATURES_SCHEMA

    return fdf.mapInPandas(gen, schema=FEATURES_SCHEMA)
