"""Raster operators — SURVEY.md §2.8 R1-R4: image decode, warp/resample
into tile pixel grids, raster feature encode/decode, and vector→raster
materialization. Reference parity target: raster_clipper semantics
(src/vector_tile_raster_clipper.hpp — warp into tile px grid, scaling
method nearest/bilinear/bicubic) re-expressed as Arrow-batch numpy kernels.

input_hint invariant: decoded-pixel allclose (PSNR ≥ 40 dB for lossy
paths) + caption equality carried through every stage — gated in
tests/test_raster.py.

Codecs (no Pillow in the sandbox — verified): `raw-rgba8` (bare
uint8[h,w,4] bytes), `png-zlib` (magic + zlib, lossless, in
sources.synth), and `quant6` (6-bit quantization — the deliberately
lossy path that exercises the PSNR gate). Real JPEG/webp decode is
STUBBED behind NotImplementedError with the Spark plumbing (schema,
batching, partitioning) fully real.

Scale: per-image work is independent → one narrow mapInPandas for
decode+resample; the per-tile composite is the SAME salted grouped
fold as vector tiles (operators.grouped), so raster and vector paths
share one shuffle/skew story.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapnik_vector_tile_spark.functions import tilemath as tm
from mapnik_vector_tile_spark.operators.grouped import apply_grouped
from mapnik_vector_tile_spark.sources import synth

TILE_SIZE = 256  # raster tile pixels (reference default 256/512)


# --- codecs (S3/R2/R3) ---------------------------------------------------------


def decode_image(buf: bytes, fmt: str, w: int, h: int) -> np.ndarray:
    """bytes -> uint8[h,w,4]. Formats beyond the sandbox codecs raise
    NotImplementedError (decode stub; plumbing stays real)."""
    if fmt == "raw-rgba8":
        return np.frombuffer(buf, dtype=np.uint8).reshape(h, w, 4)
    if fmt == "png-zlib":
        return synth.png_zlib_decode(bytes(buf))
    if fmt == "png":
        # REAL PNG (ISO/IEC 15948) — files any viewer opens; lossless
        # (w/h args ignored: IHDR carries dimensions)
        from mapnik_vector_tile_spark.functions import png as pngmod

        return pngmod.decode_png(bytes(buf))
    if fmt == "quant6":
        q = np.frombuffer(buf, dtype=np.uint8).reshape(h, w, 4)
        return (q.astype(np.uint16) << 2).astype(np.uint8)
    if fmt == "jpeg":
        # real baseline JPEG, pure numpy (functions.jpeg) — the lossy
        # path; alpha comes back opaque (w/h args ignored: the stream
        # carries its own dimensions)
        from mapnik_vector_tile_spark.functions import jpeg as jpegmod

        return jpegmod.decode_jpeg(bytes(buf))
    if fmt == "webp":
        # REAL WebP-lossless (VP8L, functions.webp) — RIFF container
        # any standard decoder reads; w/h args ignored (header-carried)
        from mapnik_vector_tile_spark.functions import webp as webpmod

        return webpmod.decode_webp(bytes(buf))
    if fmt == "tiff":
        # REAL baseline TIFF 6.0 (functions.tiff) — II/MM, PackBits or
        # uncompressed strips; lossless (w/h args ignored: IFD-carried)
        from mapnik_vector_tile_spark.functions import tiff as tiffmod

        return tiffmod.decode_tiff(bytes(buf))
    if fmt == "png8":
        # REAL indexed PNG (color type 3, functions.png8) — mapnik's
        # save_to_string(image, "png8") palette path; lossless when
        # the image has <=256 distinct colors (w/h args ignored)
        from mapnik_vector_tile_spark.functions import png8 as png8mod

        return png8mod.decode_png8(bytes(buf))
    if fmt == "avif":
        raise NotImplementedError(
            "avif decode requires an image library not present in this "
            "sandbox; plug a decoder into decode_image()"
        )
    raise ValueError(f"unknown fmt {fmt!r}")


def encode_image(rgba: np.ndarray, fmt: str) -> bytes:
    if fmt == "raw-rgba8":
        return rgba.tobytes()
    if fmt == "png-zlib":
        return synth._png_zlib_encode(rgba)
    if fmt == "png":
        from mapnik_vector_tile_spark.functions import png as pngmod

        return pngmod.encode_png(rgba)
    if fmt == "quant6":
        # lossy: drop 2 LSBs per channel — bounded error (≤3/255) keeps
        # PSNR ≈ 43 dB, above the 40 dB input_hint gate
        return (rgba >> 2).astype(np.uint8).tobytes()
    if fmt == "webp":
        from mapnik_vector_tile_spark.functions import webp as webpmod

        return webpmod.encode_webp(rgba)
    if fmt == "jpeg":
        # q=98: the synthetic corpus has mod-256 sawtooth wraps (the
        # hardest JPEG content); 98 keeps even that above the 40 dB
        # input_hint gate (smooth content sits >50 dB) — see
        # tests/test_raster.py::test_jpeg_codec_psnr_gate
        from mapnik_vector_tile_spark.functions import jpeg as jpegmod

        return jpegmod.encode_jpeg(rgba, quality=98)
    if fmt == "tiff":
        from mapnik_vector_tile_spark.functions import tiff as tiffmod

        return tiffmod.encode_tiff(rgba)
    if fmt == "png8":
        # median-cut palette quantization to <=256 colors (mapnik
        # png8); lossless iff the image already fits the palette
        from mapnik_vector_tile_spark.functions import png8 as png8mod

        return png8mod.encode_png8(rgba)
    raise ValueError(f"unknown fmt {fmt!r}")


# --- R1 warp/resample kernel ---------------------------------------------------


def resample_to_tile(
    rgba: np.ndarray,
    src_bbox: tuple[float, float, float, float],
    z: int,
    x: int,
    y: int,
    tile_size: int = TILE_SIZE,
    method: str = "bilinear",
) -> tuple[np.ndarray, np.ndarray]:
    """Warp a source image (axis-aligned merc bbox) onto a tile's pixel
    grid. Returns (tile_rgba float64[h,w,4], coverage_mask bool[h,w]).

    A.9: target pixel centers -> merc -> fractional source pixel via
    the inverse affine; nearest = floor; bilinear = 4-tap with edge
    clamp; float64 accumulation (callers round-half-away + clip)."""
    sx0, sy0, sx1, sy1 = src_bbox
    h_src, w_src = rgba.shape[:2]
    span = tm.tile_span(z)
    tx0 = -tm.W + x * span
    ty1 = tm.W - y * span  # tile top (max y)
    px = tx0 + (np.arange(tile_size, dtype=np.float64) + 0.5) * (span / tile_size)
    py = ty1 - (np.arange(tile_size, dtype=np.float64) + 0.5) * (span / tile_size)
    # fractional source pixel coords (pixel centers at +0.5)
    fx = (px - sx0) / (sx1 - sx0) * w_src - 0.5
    fy = (sy1 - py) / (sy1 - sy0) * h_src - 0.5
    FX, FY = np.meshgrid(fx, fy)
    mask = (FX >= -0.5) & (FX <= w_src - 0.5) & (FY >= -0.5) & (FY <= h_src - 0.5)
    img = rgba.astype(np.float64)
    if method == "nearest":
        ix = np.clip(np.rint(FX).astype(np.int64), 0, w_src - 1)
        iy = np.clip(np.rint(FY).astype(np.int64), 0, h_src - 1)
        out = img[iy, ix]
    elif method == "bilinear":
        x0 = np.clip(np.floor(FX).astype(np.int64), 0, w_src - 1)
        y0 = np.clip(np.floor(FY).astype(np.int64), 0, h_src - 1)
        x1 = np.clip(x0 + 1, 0, w_src - 1)
        y1 = np.clip(y0 + 1, 0, h_src - 1)
        wx = np.clip(FX - x0, 0.0, 1.0)[..., None]
        wy = np.clip(FY - y0, 0.0, 1.0)[..., None]
        out = (
            img[y0, x0] * (1 - wx) * (1 - wy)
            + img[y0, x1] * wx * (1 - wy)
            + img[y1, x0] * (1 - wx) * wy
            + img[y1, x1] * wx * wy
        )
    elif method == "bicubic":
        # Catmull-Rom cubic (a = -0.5), the classic AGG/mapnik bicubic
        # scaling_method kernel: 16-tap separable, edge-clamped taps,
        # weights sum to 1 (constant images reproduce exactly).
        a = -0.5

        def _cub(t: np.ndarray) -> np.ndarray:
            at = np.abs(t)
            return np.where(
                at <= 1.0,
                (a + 2.0) * at**3 - (a + 3.0) * at**2 + 1.0,
                np.where(
                    at < 2.0,
                    a * at**3 - 5.0 * a * at**2 + 8.0 * a * at - 4.0 * a,
                    0.0,
                ),
            )

        x0 = np.floor(FX).astype(np.int64)
        y0 = np.floor(FY).astype(np.int64)
        out = np.zeros((tile_size, tile_size, img.shape[-1]), dtype=np.float64)
        for j in (-1, 0, 1, 2):
            wy = _cub(FY - (y0 + j))[..., None]
            iy = np.clip(y0 + j, 0, h_src - 1)
            for i in (-1, 0, 1, 2):
                wx = _cub(FX - (x0 + i))[..., None]
                ix = np.clip(x0 + i, 0, w_src - 1)
                out += img[iy, ix] * wx * wy
    else:
        raise ValueError(f"unknown method {method!r}")
    return out, mask


def quantize_pixels(acc: np.ndarray) -> np.ndarray:
    """float64 accumulation -> uint8 via round-half-away + clip (A.9)."""
    return np.clip(np.floor(acc + 0.5), 0, 255).astype(np.uint8)


# --- distributed R1+R2: images -> raster tiles ----------------------------------


def image_footprints(images: DataFrame) -> DataFrame:
    """input_hint images -> (image_id, idx, caption, bytes, w, h, fmt,
    merc bbox) using the committed phash footprint (bbox = center ± hw).
    Narrow vectorized stage; bytes column flows through untouched."""

    def gen(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            idx = pdf["image_id"].str.slice(4).astype(np.int64).to_numpy()
            lon, lat, hw = synth.footprint_from_phash(
                pdf["phash"].to_numpy(), idx
            )
            mx, my = tm.lonlat_to_merc_np(lon, lat)
            hwm = hw * 111319.49079327358
            out = pdf.copy()
            out["idx"] = idx
            out["minx"] = mx - hwm
            out["maxx"] = mx + hwm
            out["miny"] = my - hwm
            out["maxy"] = my + hwm
            yield out

    schema = (
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long, idx long, minx double, maxx double, "
        "miny double, maxy double"
    )
    return images.mapInPandas(gen, schema=schema)


def rasterize_images(
    images: DataFrame,
    z: int,
    tile_size: int = TILE_SIZE,
    method: str = "bilinear",
    out_fmt: str = "png-zlib",
    num_partitions: int | None = None,
) -> DataFrame:
    """R1 end-to-end: decode -> warp into every covering tile at level z
    -> per-tile painter's composite (ascending idx; later images win
    where they cover) -> encoded raster tile + caption list.

    Same two-stage shape as the vector pipeline: narrow fan-out, ONE
    grouped shuffle on the tile key.

    ``images`` is either the raw input_hint table (footprints derived
    from phash via image_footprints) or an already-footprinted frame
    carrying explicit (idx, minx, maxx, miny, maxy) columns — the
    oracle corpus of q_raster_tiles uses the latter to pin the warp
    path against tile-aligned closed-form pixels."""
    fp = images if "minx" in images.columns else image_footprints(images)
    sc = images.sparkSession.sparkContext
    if fp.rdd.getNumPartitions() < sc.defaultParallelism:
        fp = fp.repartition(sc.defaultParallelism * 2)

    # the ONE clamped tile-coord expression (tilemath) — a local copy
    # could drift from the vector fan-out / SQL oracle twin
    fanned = (
        fp.withColumn("lox", tm.tile_x_col(F.col("minx"), z))
        .withColumn("hix", tm.tile_x_col(F.col("maxx"), z))
        .withColumn("loy", tm.tile_y_col(F.col("maxy"), z))
        .withColumn("hiy", tm.tile_y_col(F.col("miny"), z))
        .withColumn("x", F.explode(F.sequence("lox", "hix")))
        .withColumn("y", F.explode(F.sequence("loy", "hiy")))
        .select(
            F.lit(z).alias("z"),
            "x",
            "y",
            "idx",
            "bytes",
            "w",
            "h",
            "fmt",
            "caption",
            "minx",
            "maxx",
            "miny",
            "maxy",
        )
    )

    def paint_group(key, cols, sl) -> list[tuple]:
        zz, xx, yy = int(key[0]), int(key[1]), int(key[2])
        span = tm.tile_span(zz)
        tx0 = -tm.W + xx * span
        ty1 = tm.W - yy * span
        acc = np.zeros((tile_size, tile_size, 4), dtype=np.float64)
        covered = np.zeros((tile_size, tile_size), dtype=bool)
        captions = []
        for i in range(sl.start, sl.stop):
            rgba = decode_image(
                cols["bytes"][i], cols["fmt"][i], int(cols["w"][i]), int(cols["h"][i])
            )
            bbox = (
                float(cols["minx"][i]),
                float(cols["miny"][i]),
                float(cols["maxx"][i]),
                float(cols["maxy"][i]),
            )
            out, mask = resample_to_tile(
                rgba, bbox, zz, xx, yy, tile_size, method
            )
            if not mask.any():
                # sub-pixel source (image smaller than one tile pixel):
                # splat the mean color into the pixel holding its
                # center — floor, NOT int() (truncation toward zero
                # maps a center slightly LEFT of this tile to column 0
                # of the wrong tile instead of -1 → out of range)
                c = int(
                    np.floor((0.5 * (bbox[0] + bbox[2]) - tx0) / span * tile_size)
                )
                r = int(
                    np.floor((ty1 - 0.5 * (bbox[1] + bbox[3])) / span * tile_size)
                )
                if 0 <= c < tile_size and 0 <= r < tile_size:
                    acc[r, c] = rgba.astype(np.float64).mean(axis=(0, 1))
                    covered[r, c] = True
                    captions.append(str(cols["caption"][i]))
                continue
            acc[mask] = out[mask]  # painter's order: ascending idx
            covered |= mask
            captions.append(str(cols["caption"][i]))
        if not covered.any():
            return None
        raster = encode_image(quantize_pixels(acc), out_fmt)
        return [(zz, xx, yy, raster, sl.stop - sl.start, captions)]

    return apply_grouped(
        fanned,
        keys=["z", "x", "y"],
        order_by=["z", "x", "y", "idx"],
        fn=paint_group,
        schema=(
            "z int, x long, y long, raster binary, n_images long, "
            "captions array<string>"
        ),
        out_columns=["z", "x", "y", "raster", "n_images", "captions"],
        num_partitions=num_partitions,
    )


def geotiff_footprints(
    images: DataFrame,
    bytes_col: str = "bytes",
    id_col: str = "idx",
    caption_col: str = "caption",
) -> DataFrame:
    """R1 GEOREFERENCED raster ingest — the mapnik gdal-datasource
    shape: the image's merc bbox rides INSIDE the GeoTIFF stream
    (ModelPixelScale + ModelTiepoint, functions.tiff) instead of in
    sidecar columns. Extracts (w, h, minx, maxx, miny, maxy) from the
    IFD header only (no pixel decode on the ingest pass) and emits the
    footprinted frame rasterize_images consumes. Streams without geo
    tags are DROPPED (mixed-corpus policy — a plain TIFF has no place
    on the map); malformed streams raise. One narrow mapInPandas, no
    shuffle."""
    import pandas as pd

    from mapnik_vector_tile_spark.functions import tiff as tiffmod

    def gen(it):
        for pdf in it:
            rows: dict[str, list] = {
                "idx": [], "bytes": [], "w": [], "h": [], "fmt": [],
                "caption": [], "minx": [], "maxx": [], "miny": [],
                "maxy": [],
            }
            caps = pdf[caption_col] if caption_col in pdf else None
            for k, (i, buf) in enumerate(zip(pdf[id_col], pdf[bytes_col])):
                buf = bytes(buf)
                w, h, bbox = tiffmod.read_geo_info(buf)  # ONE IFD walk
                if bbox is None:
                    continue
                rows["idx"].append(int(i))
                rows["bytes"].append(buf)
                rows["w"].append(w)
                rows["h"].append(h)
                rows["fmt"].append("tiff")
                rows["caption"].append(
                    str(caps.iloc[k]) if caps is not None else ""
                )
                rows["minx"].append(bbox[0])
                rows["miny"].append(bbox[1])
                rows["maxx"].append(bbox[2])
                rows["maxy"].append(bbox[3])
            if rows["idx"]:
                yield pd.DataFrame(rows)

    return images.mapInPandas(
        gen,
        schema=(
            "idx long, bytes binary, w int, h int, fmt string, "
            "caption string, minx double, maxx double, miny double, "
            "maxy double"
        ),
    )


def raster_tiles_to_layer(
    tiles: DataFrame, layer_name: str = "raster", extent: int = 4096
) -> DataFrame:
    """R2: wrap each raster tile as a one-feature MVT layer (raster in
    Feature field 5, geometry = the tile-box polygon) — the reference's
    raster feature shape."""
    from mapnik_vector_tile_spark.functions import geomcodec as gc
    from mapnik_vector_tile_spark.functions import pbf

    box_px = np.array([0, 0, extent, extent, 0], dtype=np.int64)
    box_py = np.array([0, extent, extent, 0, 0], dtype=np.int64)
    stream = gc.encode_geometry(
        gc.GEOM_POLYGON, box_px, box_py, np.array([0, 5])
    )

    def gen(batches):
        for pdf in batches:
            if len(pdf) and int(pdf["z"].max()) > 29:
                # z:6|x:29|y:29 packing saturates at z=29; z=30 (the
                # decode pyramid's legal max) would alias x/y bits into
                # colliding feature ids — reject instead of corrupting
                raise ValueError(
                    "raster_tiles_to_layer: packed feature ids support "
                    f"z<=29, got z={int(pdf['z'].max())}"
                )
            blobs = []
            for zz, xx, yy, raster, caps in zip(
                pdf["z"], pdf["x"], pdf["y"], pdf["raster"], pdf["captions"]
            ):
                lb = pbf.LayerBuilder(layer_name, extent=extent)
                lb.add_feature(
                    # z:6 | x:29 | y:29 bits — valid through z=29
                    # (20-bit fields corrupted ids from z=21 up)
                    int(zz) << 58 | int(xx) << 29 | int(yy),
                    gc.GEOM_POLYGON,
                    stream,
                    {"caption": "|".join(caps)},
                    raster=bytes(raster),
                )
                blobs.append(lb.build())
            out = pdf[["z", "x", "y"]].copy()
            out["blob"] = blobs
            yield out

    return tiles.mapInPandas(
        gen, schema="z int, x long, y long, blob binary"
    )


def decode_raster_layer(layers: DataFrame) -> DataFrame:
    """R3: layer blobs -> (z, x, y, raster bytes, caption) — inverse of
    raster_tiles_to_layer, one narrow decode scan."""
    from mapnik_vector_tile_spark.functions import pbf

    def gen(batches):
        for pdf in batches:
            rows = {"z": [], "x": [], "y": [], "raster": [], "caption": []}
            for zz, xx, yy, blob in zip(
                pdf["z"], pdf["x"], pdf["y"], pdf["blob"]
            ):
                layer = pbf.decode_layer(bytes(blob))
                for f in layer["features"]:
                    rows["z"].append(int(zz))
                    rows["x"].append(int(xx))
                    rows["y"].append(int(yy))
                    rows["raster"].append(f.get("raster", b""))
                    rows["caption"].append(
                        pbf.feature_props(layer, f).get("caption")
                    )
            yield pd.DataFrame(rows)

    return layers.mapInPandas(
        gen, schema="z int, x long, y long, raster binary, caption string"
    )


# --- R4: vector -> raster materialization ---------------------------------------


def fill_polygon_mask(
    pxs: np.ndarray, pys: np.ndarray, ring_offsets: np.ndarray, size: int
) -> np.ndarray:
    """Scanline even-odd polygon fill on the tile pixel grid — the
    rasterizer kernel for R4. Pixel centers (c+0.5, r+0.5).

    A suffix-XOR at column c0 toggles every pixel to its right, so the
    fill is the PARITY of toggle-starts at or left of each column:
    accumulate per-(row, c0) toggle counts (one vectorized scatter per
    edge), one cumsum at the end — no per-crossing Python loop."""
    toggles = np.zeros((size, size), dtype=np.int64)
    yc = np.arange(size, dtype=np.float64) + 0.5
    for r in range(len(ring_offsets) - 1):
        xs = pxs[ring_offsets[r] : ring_offsets[r + 1]].astype(np.float64)
        ys = pys[ring_offsets[r] : ring_offsets[r + 1]].astype(np.float64)
        n = len(xs)
        j = n - 1
        for i in range(n):
            y0, y1 = ys[i], ys[j]
            if y0 != y1:
                cross = (y0 > yc) != (y1 > yc)
                with np.errstate(divide="ignore", invalid="ignore"):
                    xint = (xs[j] - xs[i]) * (yc - y0) / (y1 - y0) + xs[i]
                rows_idx = np.flatnonzero(cross)
                if len(rows_idx):
                    c0 = np.ceil(xint[rows_idx] - 0.5).astype(np.int64)
                    keep = c0 < size
                    if keep.any():
                        np.add.at(
                            toggles,
                            (rows_idx[keep], np.maximum(c0[keep], 0)),
                            1,
                        )
            j = i
    return (np.cumsum(toggles, axis=1) % 2).astype(bool)


def rasterize_features(
    layers: DataFrame, tile_size: int = TILE_SIZE, extent: int = 4096
) -> DataFrame:
    """R4: decode vector layer blobs and scanline-fill polygon features
    into a coverage bitmap per tile (packed bits) — vector→raster
    materialization with feature counts."""
    from mapnik_vector_tile_spark.functions import geomcodec as gc
    from mapnik_vector_tile_spark.functions import pbf

    scale = tile_size / extent

    def gen(batches):
        for pdf in batches:
            rows = {"z": [], "x": [], "y": [], "bitmap": [], "n_filled": []}
            for zz, xx, yy, blob in zip(
                pdf["z"], pdf["x"], pdf["y"], pdf["blob"]
            ):
                layer = pbf.decode_layer(bytes(blob))
                mask = np.zeros((tile_size, tile_size), dtype=bool)
                for f in layer["features"]:
                    if int(f["type"]) != gc.GEOM_POLYGON:
                        continue
                    try:
                        xs, ys, offs = gc.decode_geometry(
                            int(f["type"]),
                            f["geometry"].astype(np.int64),
                            version=layer["version"]
                            if layer["version"] in (1, 2)
                            else 2,
                        )
                    except ValueError:
                        continue  # one bad foreign feature: skip, not abort
                    mask |= fill_polygon_mask(
                        xs * scale, ys * scale, offs, tile_size
                    )
                rows["z"].append(int(zz))
                rows["x"].append(int(xx))
                rows["y"].append(int(yy))
                rows["bitmap"].append(np.packbits(mask).tobytes())
                rows["n_filled"].append(int(mask.sum()))
            yield pd.DataFrame(rows)

    return layers.mapInPandas(
        gen,
        schema="z int, x long, y long, bitmap binary, n_filled long",
    )


def overzoom_raster_tiles(
    tiles: DataFrame,
    dz: int,
    tile_size: int = TILE_SIZE,
    method: str = "bilinear",
    fmt: str = "png-zlib",
    redistribute: bool = False,
) -> DataFrame:
    """R1 overzoom: serve z+dz raster tiles from stored parents — the
    raster twin of composite.overzoom_layers. The reference raster
    path (src/vector_tile_raster_clipper.hpp) warps a source image
    into ANY target tile; here the source is the parent raster tile
    itself (bbox = parent tile bbox), so each child is one A.9
    resample of the decoded parent onto the child's pixel grid.
    Narrow 1->4^dz mapInPandas fan-out, no shuffle.

    method='nearest' at dz=1 reduces to exact pixel replication
    child[r,c] = parent[(cy*T+r)//2, (cx*T+c)//2] (the fractional
    source index is m±0.25, ulp-safe from the rint boundary) — pinned
    in tests and value-hash-gated by q_raster_overzoom.

    ``redistribute=True`` (few parents, deep dz — e.g. one z0 basemap
    image -> 4096 z6 tiles): explode the (parent, child-index) pairs
    and hash-repartition BEFORE warping, one child per task, so
    parallelism is 4^dz instead of #parents. Costs one shuffle of
    parent bytes x 4^dz + a parent decode per child; identical output
    rows (asserted in tests)."""
    import pandas as pd

    if dz < 1:
        raise ValueError("overzoom_raster_tiles: dz must be >= 1")
    s = 1 << dz

    def _child(rgba, zz, xx, yy, bbox, cx, cy):
        out, _mask = resample_to_tile(
            rgba, bbox, zz + dz, xx * s + cx, yy * s + cy,
            tile_size, method,
        )
        return encode_image(quantize_pixels(out), fmt)

    if redistribute:
        from pyspark.sql import functions as F

        exploded = tiles.withColumn(
            "cq", F.explode(F.sequence(F.lit(0), F.lit(s * s - 1)))
        ).repartition("z", "x", "y", "cq")

        def gen_one(it):
            for pdf in it:
                rows: dict[str, list] = {
                    "z": [], "x": [], "y": [], "raster": [],
                    "n_images": [], "captions": [],
                }
                for zz, xx, yy, raster, n_img, caps, cq in zip(
                    pdf["z"], pdf["x"], pdf["y"], pdf["raster"],
                    pdf["n_images"], pdf["captions"], pdf["cq"],
                ):
                    zz, xx, yy, cq = int(zz), int(xx), int(yy), int(cq)
                    cx, cy = cq % s, cq // s
                    rgba = decode_image(
                        bytes(raster), fmt, tile_size, tile_size
                    )
                    span = tm.tile_span(zz)
                    tx0 = -tm.W + xx * span
                    ty1 = tm.W - yy * span
                    bbox = (tx0, ty1 - span, tx0 + span, ty1)
                    rows["z"].append(zz + dz)
                    rows["x"].append(xx * s + cx)
                    rows["y"].append(yy * s + cy)
                    rows["raster"].append(
                        _child(rgba, zz, xx, yy, bbox, cx, cy)
                    )
                    rows["n_images"].append(int(n_img))
                    rows["captions"].append(list(caps))
                yield pd.DataFrame(rows)

        return exploded.mapInPandas(
            gen_one,
            schema=(
                "z int, x long, y long, raster binary, n_images long, "
                "captions array<string>"
            ),
        )

    def gen(it):
        for pdf in it:
            rows: dict[str, list] = {
                "z": [], "x": [], "y": [], "raster": [],
                "n_images": [], "captions": [],
            }
            for zz, xx, yy, raster, n_img, caps in zip(
                pdf["z"], pdf["x"], pdf["y"], pdf["raster"],
                pdf["n_images"], pdf["captions"],
            ):
                zz, xx, yy = int(zz), int(xx), int(yy)
                rgba = decode_image(bytes(raster), fmt, tile_size, tile_size)
                span = tm.tile_span(zz)
                tx0 = -tm.W + xx * span
                ty1 = tm.W - yy * span
                bbox = (tx0, ty1 - span, tx0 + span, ty1)
                for cy in range(s):
                    for cx in range(s):
                        out, _mask = resample_to_tile(
                            rgba, bbox, zz + dz, xx * s + cx, yy * s + cy,
                            tile_size, method,
                        )
                        rows["z"].append(zz + dz)
                        rows["x"].append(xx * s + cx)
                        rows["y"].append(yy * s + cy)
                        rows["raster"].append(
                            encode_image(quantize_pixels(out), fmt)
                        )
                        rows["n_images"].append(int(n_img))
                        rows["captions"].append(list(caps))
            yield pd.DataFrame(rows)

    return tiles.mapInPandas(
        gen,
        schema=(
            "z int, x long, y long, raster binary, n_images long, "
            "captions array<string>"
        ),
    )


# --- zonal statistics (R4 companion: raster aggregated by vector zones) --------


def zonal_stats(
    tiles: DataFrame,
    zones: DataFrame,
    z: int,
    tile_size: int = TILE_SIZE,
    channel: int = 0,
) -> DataFrame:
    """Per-zone pixel statistics over a raster tile table — the
    classic zonal-statistics operator (aggregate every pixel whose
    CENTER falls inside the zone polygon, even-odd fill so holes
    subtract). Returns (region_id, n_px, sum_px) with INTEGER sums
    (uint8 channel), so results are bit-exact and order-free.

    Plan shape (the 100 TB story): zones → EXACT covering cells
    (operators/cellcover.py) → cell equi-join against the tile table
    (tiles never scan outside the covered cells) → one narrow
    mapInPandas that decodes each joined tile once and masks pixel
    centers via the vectorized even-odd ray cast → a final partial→
    total aggregation on region_id. Zone geometry crosses the join as
    ONE packed binary column (tiling._pack_coords), never Arrow lists
    — the same exchange-cost rule as joins._refine.

    tiles: (z int, x long, y long, raster binary, fmt string).
    zones: (region_id long, xs array<double>, ys array<double>,
    ring_offsets array<int>).
    """
    from mapnik_vector_tile_spark.functions import pip as pipmod
    from mapnik_vector_tile_spark.operators.cellcover import (
        cover_polygon_cells,
    )
    from mapnik_vector_tile_spark.operators.joins import packed_geometry
    from mapnik_vector_tile_spark.operators.tiling import _unpack_coords

    feats = zones.select(
        F.col("region_id").alias("feature_id"),
        F.lit(3).alias("geom_type"),
        "xs",
        "ys",
        F.col("ring_offsets").alias("part_offsets"),
        F.lit("").alias("caption"),
    )
    cells = cover_polygon_cells(feats, z).select(
        F.col("feature_id").alias("region_id"),
        F.col("cx").alias("x"),
        F.col("cy").alias("y"),
    )

    geo = packed_geometry(zones)
    cand = (
        tiles.withColumnRenamed("z", "tz")
        .filter(F.col("tz") == z)
        .join(cells, ["x", "y"])
        .join(geo, "region_id")
        .select("region_id", "x", "y", "raster", "fmt", "geom")
    )

    span = tm.tile_span(z)
    pspan = span / tile_size

    def agg_gen(batches):
        # pixel-center offsets within a tile, reused across rows
        base = (np.arange(tile_size, dtype=np.float64) + 0.5) * pspan
        for pdf in batches:
            if not len(pdf):
                continue
            rid_out, n_out, s_out = [], [], []
            for rid, x, y, raster, fmt, geom in zip(
                pdf["region_id"], pdf["x"], pdf["y"],
                pdf["raster"], pdf["fmt"], pdf["geom"],
            ):
                rgba = decode_image(
                    bytes(raster), str(fmt), tile_size, tile_size
                )
                tx0 = -tm.W + float(x) * span
                ty1 = tm.W - float(y) * span  # tile top edge
                cxs = tx0 + base  # columns left→right
                cys = ty1 - base  # rows top→bottom
                qx = np.repeat(cxs[None, :], tile_size, axis=0).ravel()
                qy = np.repeat(cys[:, None], tile_size, axis=1).ravel()
                gx, gy, go = _unpack_coords(geom)
                mask = pipmod.points_in_polygon(qx, qy, gx, gy, go)
                if not mask.any():
                    continue
                vals = rgba[..., channel].ravel()[mask]
                rid_out.append(int(rid))
                n_out.append(int(mask.sum()))
                s_out.append(int(vals.sum(dtype=np.int64)))
            if not rid_out:
                continue
            yield pd.DataFrame(
                {"region_id": rid_out, "n_px": n_out, "sum_px": s_out}
            )

    partial = cand.mapInPandas(
        agg_gen, schema="region_id long, n_px long, sum_px long"
    )
    return partial.groupBy("region_id").agg(
        F.sum("n_px").alias("n_px"), F.sum("sum_px").alias("sum_px")
    )


def box_thumbnail(rgba: np.ndarray, size: int) -> np.ndarray:
    """Exact integer area-average downsample to size x size: cell
    (ty, tx) averages the half-open source box
    [floor(ty*h/size), floor((ty+1)*h/size)) x [same in x] with
    FLOOR division of the integer channel sums — the fully
    deterministic resize contract (no float accumulation, so the
    DuckDB twin replays it bit-exactly). Requires h, w >= size."""
    h, w = rgba.shape[0], rgba.shape[1]
    if h < size or w < size:
        raise ValueError(f"box_thumbnail: image {w}x{h} smaller than {size}")
    acc = rgba.astype(np.int64)
    # 2D prefix sums per channel -> O(1) box sums
    ps = acc.cumsum(axis=0).cumsum(axis=1)
    ps = np.pad(ps, ((1, 0), (1, 0), (0, 0)))
    ye = (np.arange(size + 1) * h) // size
    xe = (np.arange(size + 1) * w) // size
    y0, y1 = ye[:-1], ye[1:]
    x0, x1 = xe[:-1], xe[1:]
    sums = (
        ps[y1][:, x1] - ps[y0][:, x1] - ps[y1][:, x0] + ps[y0][:, x0]
    )
    counts = ((y1 - y0)[:, None] * (x1 - x0)[None, :])[..., None]
    return (sums // counts).astype(np.uint8)


def image_thumbnails(images: DataFrame, size: int = 8) -> DataFrame:
    """Vision-pipeline thumbnailing over the canonical images table
    (image_id, bytes, w, h, fmt, caption, ...): decode (raw-rgba8 /
    png-zlib), exact integer box-average to size x size, re-emit as
    raw bytes with caption preserved (the per-row invariant of the
    north rule). One narrow mapInPandas scan — prefix-sum box sums are
    O(pixels) per image regardless of size; no shuffle; scales
    linearly with input splits at 100 TB."""
    import pandas as pd

    def gen(it):
        for pdf in it:
            out = {
                "image_id": [], "thumb": [], "tw": [], "th": [],
                "caption": [],
            }
            for r in pdf.itertuples():
                rgba = decode_image(r.bytes, r.fmt, int(r.w), int(r.h))
                th = box_thumbnail(rgba, size)
                out["image_id"].append(r.image_id)
                out["thumb"].append(th.tobytes())
                out["tw"].append(size)
                out["th"].append(size)
                out["caption"].append(r.caption)
            yield pd.DataFrame(out)

    return images.mapInPandas(
        gen,
        schema="image_id string, thumb binary, tw int, th int, "
        "caption string",
    )


def gray_grid(rgba: np.ndarray, sw: int, sh: int) -> np.ndarray:
    """Exact integer luma grid: per-pixel gray = r*299 + g*587 + b*114
    (the ITU-R 601 weights scaled by 1000 — kept INTEGER; comparisons
    downstream are scale-invariant so no division ever happens), then
    the same half-open box partition as box_thumbnail with FLOOR-div
    means, generalized to a rectangular sw x sh grid. Returns int64
    (sh, sw)."""
    h, w = rgba.shape[0], rgba.shape[1]
    if h < sh or w < sw:
        raise ValueError(f"gray_grid: image {w}x{h} smaller than {sw}x{sh}")
    a = rgba.astype(np.int64)
    gray = a[..., 0] * 299 + a[..., 1] * 587 + a[..., 2] * 114
    ps = gray.cumsum(axis=0).cumsum(axis=1)
    ps = np.pad(ps, ((1, 0), (1, 0)))
    ye = (np.arange(sh + 1) * h) // sh
    xe = (np.arange(sw + 1) * w) // sw
    sums = (
        ps[ye[1:]][:, xe[1:]]
        - ps[ye[:-1]][:, xe[1:]]
        - ps[ye[1:]][:, xe[:-1]]
        + ps[ye[:-1]][:, xe[:-1]]
    )
    counts = (ye[1:] - ye[:-1])[:, None] * (xe[1:] - xe[:-1])[None, :]
    return sums // counts


def image_dhash(images: DataFrame) -> DataFrame:
    """T21b difference hash (the `imagehash.dhash` algorithm — the
    other standard perceptual fingerprint next to pHash): decode,
    integer luma, exact box-average to a 9x8 grid, bit (y, x) set iff
    grid[y][x] > grid[y][x+1], packed row-major into a signed int64
    (bit k = y*8 + x; bit 63 wraps to the sign, matching the table's
    phash convention). Fully integer end-to-end, so the DuckDB twin
    replays every bit. Robust to brightness/contrast shifts the way
    dHash is (gradient signs, not magnitudes).

    One narrow mapInPandas scan — no shuffle; pairs-finding composes
    with the existing banded Hamming LSH (dedup.phash_neardup_pairs
    machinery) downstream. Output: (image_id, dhash, caption)."""
    import pandas as pd

    def gen(it):
        shifts = np.arange(64, dtype=np.uint64).reshape(8, 8)
        for pdf in it:
            out = {"image_id": [], "dhash": [], "caption": []}
            for r in pdf.itertuples():
                rgba = decode_image(r.bytes, r.fmt, int(r.w), int(r.h))
                g = gray_grid(rgba, 9, 8)
                bits = (g[:, :-1] > g[:, 1:]).astype(np.uint64)
                hv = (bits << shifts).sum(dtype=np.uint64)
                out["image_id"].append(r.image_id)
                out["dhash"].append(int(hv.astype(np.int64)))
                out["caption"].append(r.caption)
            yield pd.DataFrame(out)

    return images.mapInPandas(
        gen, schema="image_id string, dhash long, caption string"
    )


def marching_squares_stats(images: DataFrame, thr: int) -> DataFrame:
    """R5 iso-contour extraction — the raster→vector inverse of R4's
    rasterize (the gdal_contour / matplotlib-contour shape): classic
    marching squares over the ×1000 integer luma grid against an
    integer threshold, midpoint variant (segment endpoints at edge
    MIDPOINTS, no interpolation), so every quantity is exact:

    * a 2×2 cell's crossed edges are the edges whose corner
      above-threshold bits differ; #crossed ∈ {0, 2, 4};
    * n_segments = crossed/2 (the two saddle cases contribute 2);
    * endpoint coordinates live on the DOUBLED integer grid (the top
      edge midpoint of cell (x,y) is (2x+1, 2y)) — their per-image
      sums are saddle-pairing-invariant, so the contract needs no
      saddle disambiguation convention;
    * the contour is closed-or-boundary-terminated by construction,
      which the (sum of endpoint x parities == n_segments·parity)
      class of invariants in tests leans on.

    One narrow mapInPandas scan, no shuffle; caption rides through.
    Output: (image_id, n_cells, n_segments, ex_sum, ey_sum,
    caption)."""
    import pandas as pd

    def gen(it):
        for pdf in it:
            out = {"image_id": [], "n_cells": [], "n_segments": [],
                   "ex_sum": [], "ey_sum": [], "caption": []}
            for r in pdf.itertuples():
                rgba = decode_image(r.bytes, r.fmt, int(r.w), int(r.h))
                a = rgba.astype(np.int64)
                g = a[..., 0] * 299 + a[..., 1] * 587 + a[..., 2] * 114
                b = g > thr
                h, w = b.shape
                if h < 2 or w < 2:
                    out["image_id"].append(r.image_id)
                    out["n_cells"].append(0)
                    out["n_segments"].append(0)
                    out["ex_sum"].append(0)
                    out["ey_sum"].append(0)
                    out["caption"].append(r.caption)
                    continue
                yy, xx = np.mgrid[0 : h - 1, 0 : w - 1]
                top = b[:-1, :-1] != b[:-1, 1:]
                bot = b[1:, :-1] != b[1:, 1:]
                left = b[:-1, :-1] != b[1:, :-1]
                right = b[:-1, 1:] != b[1:, 1:]
                crossed = (
                    top.astype(np.int64) + bot + left + right
                )
                ex = (
                    top * (2 * xx + 1)
                    + bot * (2 * xx + 1)
                    + left * (2 * xx)
                    + right * (2 * xx + 2)
                )
                ey = (
                    top * (2 * yy)
                    + bot * (2 * yy + 2)
                    + left * (2 * yy + 1)
                    + right * (2 * yy + 1)
                )
                out["image_id"].append(r.image_id)
                out["n_cells"].append(int((h - 1) * (w - 1)))
                out["n_segments"].append(int(crossed.sum()) // 2)
                out["ex_sum"].append(int(ex.sum()))
                out["ey_sum"].append(int(ey.sum()))
                out["caption"].append(r.caption)
            yield pd.DataFrame(out)

    return images.mapInPandas(
        gen,
        schema="image_id string, n_cells long, n_segments long, "
        "ex_sum long, ey_sum long, caption string",
    )


PH_GRID = 16  # pHash luma grid (corpus images are >= 16x16)
PH_CBITS = 14  # fixed-point cosine scale


def phash_cos_table() -> "np.ndarray":
    """Fixed-point DCT-II cosine table C[u][i] =
    round(cos(pi*(2i+1)*u/32) * 2^14), u in 0..7, i in 0..15 — the
    committed integer basis that makes the perceptual hash EXACT (the
    float DCT both imagehash and cv2 use is reproducible only up to
    libm ulps; this table is computed once per process and inlined
    into the SQL twin as literals, so both engines multiply identical
    integers). Pinned by a checksum test."""
    import math

    u = np.arange(8)[:, None]
    i = np.arange(PH_GRID)[None, :]
    c = np.cos(math.pi * (2 * i + 1) * u / (2 * PH_GRID)) * (1 << PH_CBITS)
    return np.floor(np.abs(c) + 0.5).astype(np.int64) * np.where(c < 0, -1, 1)


def phash_dct(images: DataFrame) -> DataFrame:
    """T21c the REAL perceptual hash — the DCT pHash whose int64 shape
    the input_hint's ``phash`` column carries (imagehash.phash
    semantics, made bit-exact): decode → ×1000 integer luma →
    exact box-average to a 16×16 grid (floor-div means, same partition
    as gray_grid) → fixed-point 2D DCT-II (two integer matrix
    multiplies against the committed cosine table; |F| ≤ 2^54, exact
    in int64) → keep the top-left 8×8 low-frequency block → bit k set
    iff 2·F_k > (s[31]+s[32]) where s is the sorted block (the exact
    twice-median compare — no .5 fraction ever forms) → pack row-major
    MSB-first into a signed int64.

    One narrow mapInPandas scan, no shuffle; pairs-finding composes
    with the banded Hamming LSH downstream exactly like the synthetic
    phash column and dHash do. Output: (image_id, phash_dct,
    caption)."""
    import pandas as pd

    C = phash_cos_table()

    def gen(it):
        shifts = (63 - np.arange(64, dtype=np.uint64)).reshape(8, 8)
        for pdf in it:
            out = {"image_id": [], "phash_dct": [], "caption": []}
            for r in pdf.itertuples():
                rgba = decode_image(r.bytes, r.fmt, int(r.w), int(r.h))
                g = gray_grid(rgba, PH_GRID, PH_GRID)
                f = C @ g @ C.T  # int64-exact separable DCT
                s = np.sort(f.ravel())
                mm = int(s[31]) + int(s[32])
                bits = (2 * f > mm).astype(np.uint64)
                hv = (bits << shifts).sum(dtype=np.uint64)
                out["image_id"].append(r.image_id)
                out["phash_dct"].append(int(hv.astype(np.int64)))
                out["caption"].append(r.caption)
            yield pd.DataFrame(out)

    return images.mapInPandas(
        gen, schema="image_id string, phash_dct long, caption string"
    )


def laplacian_stats(images: DataFrame, blur_thr: int = 100) -> DataFrame:
    """T12e blur / sharpness gate — variance of the 3×3 Laplacian, the
    standard `cv2.Laplacian(gray).var()` filter vision corpora use to
    drop out-of-focus and near-flat images before training — rebuilt
    integer-exact so the DuckDB twin replays the decision bit-for-bit:
    luma8 = (r·77 + g·151 + b·28) >> 8 (the classic 8-bit ITU-601
    approximation — bounded so every moment below fits int64: |L| ≤
    4·255, Σl² ≤ 4e9, n·Σl² ≤ 1.6e13 at 64×64), L(x,y) = 4p − W − E −
    N − S over INTERIOR pixels only, and the variance compare is
    cross-multiplied — is_blurry iff n·Σl² − (Σl)² < thr·n² (variance
    < thr in luma8² units) — so no float ever forms. Images smaller
    than 3×3 have no interior: n_int=0, flagged blurry by convention
    (nothing to be sharp about). One narrow mapInPandas scan, no
    shuffle; caption rides through per the north-rule row invariant.
    Output: (image_id, n_int, sum_l, sum_l2, is_blurry, caption)."""
    import pandas as pd

    def gen(it):
        for pdf in it:
            out = {"image_id": [], "n_int": [], "sum_l": [],
                   "sum_l2": [], "is_blurry": [], "caption": []}
            for r in pdf.itertuples():
                rgba = decode_image(r.bytes, r.fmt, int(r.w), int(r.h))
                a = rgba.astype(np.int64)
                g = (a[..., 0] * 77 + a[..., 1] * 151 + a[..., 2] * 28) >> 8
                if g.shape[0] < 3 or g.shape[1] < 3:
                    n = 0
                    sl = sl2 = 0
                else:
                    p = g[1:-1, 1:-1]
                    lap = (
                        4 * p
                        - g[1:-1, :-2] - g[1:-1, 2:]
                        - g[:-2, 1:-1] - g[2:, 1:-1]
                    )
                    n = lap.size
                    sl = int(lap.sum())
                    sl2 = int((lap * lap).sum())
                out["image_id"].append(r.image_id)
                out["n_int"].append(n)
                out["sum_l"].append(sl)
                out["sum_l2"].append(sl2)
                out["is_blurry"].append(
                    n == 0 or n * sl2 - sl * sl < blur_thr * n * n
                )
                out["caption"].append(r.caption)
            yield pd.DataFrame(out)

    return images.mapInPandas(
        gen,
        schema="image_id string, n_int long, sum_l long, sum_l2 long, "
        "is_blurry boolean, caption string",
    )


def equalize_stats(images: DataFrame) -> DataFrame:
    """T12h histogram equalization — the classic contrast-normalization
    preprocessing step (the `cv2.equalizeHist` shape), rebuilt as an
    exact integer pipeline over the shared 8-bit luma grid so the
    DuckDB twin replays the remap bit-for-bit. The tie-rounding rule is
    COMMITTED as round-half-up (OpenCV's cvRound is half-to-even
    through a float scale; on exact .5 lut ties the two differ by 1 —
    the pinned convention here trades that corner for cross-engine
    exactness):

    * lut(v) = round(255·(cdf(v) − cdf_min)/(n − cdf_min)) with
      cdf_min = the smallest nonzero cdf value, computed as the pure
      integer ((cdf−cdf_min)·510 + (n−cdf_min)) // (2·(n−cdf_min))
      (round-half-up without floats);
    * a FLAT image (every pixel one level ⇒ n == cdf_min) keeps the
      identity map by convention (nothing to equalize) — pinned in
      tests;
    * output is the exact equalized-pixel sum + extremes per image, so
      a single mis-rounded lut entry breaks the hash.

    One narrow mapInPandas scan, no shuffle; caption rides through per
    the north-rule row invariant. Output: (image_id, eq_sum, eq_min,
    eq_max, caption)."""
    import pandas as pd

    def gen(it):
        for pdf in it:
            out = {"image_id": [], "eq_sum": [], "eq_min": [],
                   "eq_max": [], "caption": []}
            for r in pdf.itertuples():
                rgba = decode_image(r.bytes, r.fmt, int(r.w), int(r.h))
                a = rgba.astype(np.int64)
                g = (a[..., 0] * 77 + a[..., 1] * 151 + a[..., 2] * 28) >> 8
                hist = np.bincount(g.ravel(), minlength=256)
                cdf = np.cumsum(hist)
                n = int(cdf[-1])
                nz = np.flatnonzero(hist)
                cdf_min = int(cdf[nz[0]])
                if n == cdf_min:  # flat image: identity by convention
                    lut = np.arange(256, dtype=np.int64)
                else:
                    den = n - cdf_min
                    lut = ((cdf - cdf_min) * 510 + den) // (2 * den)
                eq = lut[g]
                out["image_id"].append(r.image_id)
                out["eq_sum"].append(int(eq.sum()))
                out["eq_min"].append(int(eq.min()))
                out["eq_max"].append(int(eq.max()))
                out["caption"].append(r.caption)
            yield pd.DataFrame(out)

    return images.mapInPandas(
        gen,
        schema="image_id string, eq_sum long, eq_min int, eq_max int, "
        "caption string",
    )


OTSU_SCALE_BITS = 56  # see otsu_stats: floor-scaled score == exact argmax


def otsu_stats(images: DataFrame) -> DataFrame:
    """T12g Otsu binarization threshold — the classic global-threshold
    image statistic (Otsu 1979; `cv2.threshold(..., THRESH_OTSU)`),
    used in vision curation to split document-like / high-contrast
    images from flat ones and as a cheap foreground-ratio feature.
    Rebuilt EXACT so the DuckDB twin replays the argmax bit-for-bit:

    * luma8 = (r·77 + g·151 + b·28) >> 8 (same 8-bit grid as the blur
      gate, so the twins share one pixel CTE);
    * threshold candidates are the distinct luma levels v present with
      a nonempty upper class — the between-class variance
      (s0·n1 − s1·n0)²/(n0·n1) only changes at present levels;
    * the score is the FLOOR-SCALED integer
      ((s0·n1 − s1·n0)² << 56) // (n0·n1), computed in arbitrary-
      precision Python ints (the numerator overflows int64 at 64×64).
      Two candidates get equal scaled scores iff their exact fractions
      are equal: a floor collision bounds |Δ| < 2⁻⁵⁶, while distinct
      fractions differ by ≥ 1/(n0n1)² ≥ 2⁻⁴⁵ at n ≤ 4096 pixels — so
      the scaled argmax IS the exact argmax, and DuckDB reproduces it
      with HUGEINT arithmetic (max term ≈ 2e36 < 2¹²⁷);
    * ties break to the smallest threshold.

    Foreground = luma > t. One narrow mapInPandas scan, no shuffle;
    caption rides through per the north-rule row invariant. Output:
    (image_id, otsu_t, n_fg, fg_sum, caption)."""
    import pandas as pd

    def gen(it):
        for pdf in it:
            out = {"image_id": [], "otsu_t": [], "n_fg": [],
                   "fg_sum": [], "caption": []}
            for r in pdf.itertuples():
                rgba = decode_image(r.bytes, r.fmt, int(r.w), int(r.h))
                a = rgba.astype(np.int64)
                g = (a[..., 0] * 77 + a[..., 1] * 151 + a[..., 2] * 28) >> 8
                hist = np.bincount(g.ravel(), minlength=256)
                n = int(hist.sum())
                s = int((hist * np.arange(256)).sum())
                best_t, best_sc = 0, -1
                n0 = s0 = 0
                for v in range(256):
                    c = int(hist[v])
                    if c == 0:
                        continue
                    n0 += c
                    s0 += v * c
                    n1 = n - n0
                    if n1 == 0:
                        break  # upper class empty: not a valid cut
                    d = s0 * n1 - (s - s0) * n0
                    sc = (d * d << OTSU_SCALE_BITS) // (n0 * n1)
                    if sc > best_sc:
                        best_sc, best_t = sc, v
                fg = g > best_t
                out["image_id"].append(r.image_id)
                out["otsu_t"].append(best_t)
                out["n_fg"].append(int(fg.sum()))
                out["fg_sum"].append(int(g[fg].sum()))
                out["caption"].append(r.caption)
            yield pd.DataFrame(out)

    return images.mapInPandas(
        gen,
        schema="image_id string, otsu_t int, n_fg long, fg_sum long, "
        "caption string",
    )


def letterbox(
    rgba: np.ndarray, target: int, fill: tuple[int, int, int, int] = (0, 0, 0, 255)
) -> tuple[np.ndarray, int, int, int, int]:
    """Aspect-preserving fit + center pad to a target x target canvas —
    the vision-batch preprocessing step (every fixed-shape image model
    front-end): scale so the LONG side equals target (floor division,
    min 1), resample by exact integer nearest-neighbor (src index =
    dst·src_dim // new_dim — deterministic both up and down, unlike
    box-average which can only shrink), paste at the centered offset
    ((target-nw)//2, (target-nh)//2), fill elsewhere. Returns
    (canvas, ox, oy, nw, nh)."""
    h, w = rgba.shape[0], rgba.shape[1]
    if w >= h:
        nw, nh = target, max(1, (h * target) // w)
    else:
        nh, nw = target, max(1, (w * target) // h)
    sy = (np.arange(nh, dtype=np.int64) * h) // nh
    sx = (np.arange(nw, dtype=np.int64) * w) // nw
    resized = rgba[sy][:, sx]
    canvas = np.empty((target, target, 4), np.uint8)
    canvas[:, :] = np.asarray(fill, np.uint8)
    oy, ox = (target - nh) // 2, (target - nw) // 2
    canvas[oy : oy + nh, ox : ox + nw] = resized
    return canvas, ox, oy, nw, nh


def letterbox_images(
    images: DataFrame,
    target: int = 64,
    fill: tuple[int, int, int, int] = (0, 0, 0, 255),
) -> DataFrame:
    """T12c letterbox over the canonical images table: decode, fit,
    center-pad, re-emit raw bytes with caption preserved (the per-row
    invariant). Pairs with ar_bucket_batches: buckets group
    near-ratio images, letterbox snaps each batch to one shape. One
    narrow mapInPandas scan — no shuffle. Output: (image_id, canvas,
    ox, oy, nw, nh, caption)."""
    import pandas as pd

    def gen(it):
        for pdf in it:
            out = {
                "image_id": [], "canvas": [], "ox": [], "oy": [],
                "nw": [], "nh": [], "caption": [],
            }
            for r in pdf.itertuples():
                rgba = decode_image(r.bytes, r.fmt, int(r.w), int(r.h))
                cv, ox, oy, nw, nh = letterbox(rgba, target, fill)
                out["image_id"].append(r.image_id)
                out["canvas"].append(cv.tobytes())
                out["ox"].append(ox)
                out["oy"].append(oy)
                out["nw"].append(nw)
                out["nh"].append(nh)
                out["caption"].append(r.caption)
            yield pd.DataFrame(out)

    return images.mapInPandas(
        gen,
        schema="image_id string, canvas binary, ox int, oy int, "
        "nw int, nh int, caption string",
    )


AUG_NAMES = ("identity", "flip_h", "flip_v", "rot90", "rot180", "rot270")


def augment_images(images: DataFrame, epochs: int = 2) -> DataFrame:
    """T12d deterministic augmentation — the per-epoch random
    flip/rotate every vision training loop applies, made a pure
    function of (image, epoch) so shards, re-runs and resumes all see
    the SAME augmented pixels (the reproducibility property ad-hoc
    RNG-per-worker augmentation loses): aug = splitmix64(idx + epoch
    · 2^32) mod 6 over {identity, flip_h, flip_v, rot90cw, rot180,
    rot270}. The 1→epochs fan-out happens inside the Arrow batch (no
    shuffle, no driver loop — the tile-assignment shape); rotations
    swap the emitted dims. Output: (image_id, epoch, aug, out_w,
    out_h, pixels, caption)."""
    import pandas as pd

    from mapnik_vector_tile_spark.sources.synth import splitmix64

    def gen(it):
        for pdf in it:
            out = {"image_id": [], "epoch": [], "aug": [], "out_w": [],
                   "out_h": [], "pixels": [], "caption": []}
            for r in pdf.itertuples():
                rgba = decode_image(r.bytes, r.fmt, int(r.w), int(r.h))
                idx = int(r.image_id[4:])
                for ep in range(epochs):
                    k = np.uint64(idx) + np.uint64(ep) * np.uint64(1 << 32)
                    # int() BEFORE the modulo: a scalar np.uint64 %
                    # python-int silently promotes to float64 and
                    # rounds the 64-bit hash (array % int does not)
                    a = int(splitmix64(np.array([k], np.uint64))[0]) % 6
                    if a == 0:
                        t = rgba
                    elif a == 1:
                        t = rgba[:, ::-1]
                    elif a == 2:
                        t = rgba[::-1, :]
                    elif a == 3:
                        t = np.rot90(rgba, k=-1)
                    elif a == 4:
                        t = rgba[::-1, ::-1]
                    else:
                        t = np.rot90(rgba, k=1)
                    out["image_id"].append(r.image_id)
                    out["epoch"].append(ep)
                    out["aug"].append(AUG_NAMES[a])
                    out["out_w"].append(t.shape[1])
                    out["out_h"].append(t.shape[0])
                    out["pixels"].append(np.ascontiguousarray(t).tobytes())
                    out["caption"].append(r.caption)
            yield pd.DataFrame(out)

    return images.mapInPandas(
        gen,
        schema="image_id string, epoch int, aug string, out_w int, "
        "out_h int, pixels binary, caption string",
    )


def gradient_orientation_stats(images: DataFrame) -> DataFrame:
    """T12i gradient-orientation histogram (HOG-lite) — the classic
    8-octant edge-direction descriptor vision pipelines use for
    orientation-aware filtering/augmentation gating, rebuilt
    integer-exact: 3×3 Sobel over the shared ITU-601 luma8 grid
    (|gx|,|gy| ≤ 4·255·... bounded: each ≤ 4·255=1020, mag ≤ 2040,
    all moments comfortably int64), then the octant of (gx, gy) by a
    three-step sign/compare fold — NO atan2, so the DuckDB twin
    replays the binning decision-for-decision:

      step 1: gy < 0 → rotate by π   (s += 4; gx,gy = −gx,−gy)
      step 2: gx < 0 → rotate by π/2 (s += 2; gx,gy = gy,−gx)
      step 3: gy >= gx → s += 1      (45° split, ties upward)

    Zero-gradient (flat) pixels get bin −1. Output is one row per
    (image, bin) for ALL 9 bins — (image_id, bin, cnt, mag, caption)
    with mag = Σ(|gx|+|gy|) per bin — so a single pixel binned across
    a tie boundary breaks the hash. One narrow mapInPandas scan, no
    shuffle; caption rides through per the north-rule row invariant."""
    import pandas as pd

    def gen(it):
        for pdf in it:
            out = {
                "image_id": [], "bin": [], "cnt": [], "mag": [],
                "caption": [],
            }
            for r in pdf.itertuples():
                rgba = decode_image(r.bytes, r.fmt, int(r.w), int(r.h))
                a = rgba.astype(np.int64)
                g = (a[..., 0] * 77 + a[..., 1] * 151 + a[..., 2] * 28) >> 8
                cnt = np.zeros(9, dtype=np.int64)
                mag = np.zeros(9, dtype=np.int64)
                if g.shape[0] >= 3 and g.shape[1] >= 3:
                    gx = (
                        g[:-2, 2:] + 2 * g[1:-1, 2:] + g[2:, 2:]
                        - g[:-2, :-2] - 2 * g[1:-1, :-2] - g[2:, :-2]
                    ).ravel()
                    gy = (
                        g[2:, :-2] + 2 * g[2:, 1:-1] + g[2:, 2:]
                        - g[:-2, :-2] - 2 * g[:-2, 1:-1] - g[:-2, 2:]
                    ).ravel()
                    m = np.abs(gx) + np.abs(gy)
                    flat = (gx == 0) & (gy == 0)
                    s = np.zeros(len(gx), dtype=np.int64)
                    neg = gy < 0
                    s[neg] += 4
                    gx = np.where(neg, -gx, gx)
                    gy = np.where(neg, -gy, gy)
                    neg = gx < 0
                    s[neg] += 2
                    gx2 = np.where(neg, gy, gx)
                    gy2 = np.where(neg, -gx, gy)
                    s[gy2 >= gx2] += 1
                    b = np.where(flat, 0, s + 1)  # 0 = flat slot
                    cnt = np.bincount(b, minlength=9)
                    mag = np.bincount(
                        b, weights=m.astype(np.float64), minlength=9
                    ).astype(np.int64)
                    mag[0] = 0  # flat pixels carry zero magnitude
                for k in range(9):
                    out["image_id"].append(r.image_id)
                    out["bin"].append(k - 1)
                    out["cnt"].append(int(cnt[k]))
                    out["mag"].append(int(mag[k]))
                    out["caption"].append(r.caption)
            yield pd.DataFrame(out)

    return images.mapInPandas(
        gen,
        schema="image_id string, bin long, cnt long, mag long, "
        "caption string",
    )


def template_match_stats(images: DataFrame, tsz: int = 6) -> DataFrame:
    """T12j template matching — integer SAD (sum of absolute
    differences) patch search, the classic normalized-free
    cv2.matchTemplate(TM_SADiff) shape vision dedup/alignment
    pipelines use. The per-image template is the tsz×tsz luma patch at
    a hash-derived location, perturbed by +((tx·7 + ty·11) % 43) per
    cell — sized against the corpus noise so the source location wins
    only ~40% of the time (a genuinely contested argmin). All integer: luma8 in [0,255],
    SAD ≤ 255·tsz² ≪ int64. Best offset = lexicographically smallest
    (by, bx) among minima — a pinned tie rule the DuckDB twin replays.
    Output: (image_id, bx, by, best_sad, n_best, caption); images
    smaller than the template emit (-1, -1, -1, 0). One narrow
    mapInPandas scan, no shuffle."""
    import pandas as pd

    from mapnik_vector_tile_spark.sources.synth import splitmix64

    def gen(it):
        for pdf in it:
            out = {
                "image_id": [], "bx": [], "by": [], "best_sad": [],
                "n_best": [], "caption": [],
            }
            for idx, r in enumerate(pdf.itertuples()):
                rgba = decode_image(r.bytes, r.fmt, int(r.w), int(r.h))
                a = rgba.astype(np.int64)
                g = (a[..., 0] * 77 + a[..., 1] * 151 + a[..., 2] * 28) >> 8
                h, w = g.shape
                if h < tsz or w < tsz:
                    vals = (-1, -1, -1, 0)
                else:
                    i_num = int(r.image_id.split("_")[-1])
                    ph = int(
                        splitmix64(np.array([i_num], dtype=np.uint64))[0]
                    )
                    t0x = ph % (w - tsz + 1)
                    t0y = (ph >> 17) % (h - tsz + 1)
                    ty, tx = np.mgrid[0:tsz, 0:tsz]
                    tpl = (
                        g[t0y : t0y + tsz, t0x : t0x + tsz]
                        + (tx * 7 + ty * 11) % 43
                    )
                    win = np.lib.stride_tricks.sliding_window_view(
                        g, (tsz, tsz)
                    )
                    sad = np.abs(win - tpl).sum(axis=(2, 3))
                    best = int(sad.min())
                    ys, xs = np.nonzero(sad == best)
                    vals = (int(xs[0]), int(ys[0]), best, int(len(xs)))
                out["image_id"].append(r.image_id)
                out["bx"].append(vals[0])
                out["by"].append(vals[1])
                out["best_sad"].append(vals[2])
                out["n_best"].append(vals[3])
                out["caption"].append(r.caption)
            yield pd.DataFrame(out)

    return images.mapInPandas(
        gen,
        schema="image_id string, bx long, by long, best_sad long, "
        "n_best long, caption string",
    )


def blob_stats(images: DataFrame, mod: int = 4) -> DataFrame:
    """T12j connected-component (blob) labeling — the classic binary
    image object-counting primitive (`cv2.connectedComponents`,
    two-pass labeling), used in vision curation to count/measure
    foreground objects before filtering.

    Mask = (luma8 % mod == 0): a deterministic pseudo-random mask at
    ~1/mod density computable from the decoded pixels alone (no synth
    structure assumed). At mod=4 the density (~25%) sits well below
    the site-percolation threshold (~0.593), so components stay small
    and bounded — the per-image labeling cost is O(pixels · diameter)
    with tiny diameters.

    Labels are the deterministic MIN PIXEL ID per component
    (pid = y·w + x), computed by vectorized min-neighbor relaxation
    to fixpoint — the same min-label semantics as the engine's LSH
    cluster CC, replayed by the DuckDB twin with an unrolled
    relax-join chain, so an early-terminated unroll shows up as a
    hash mismatch (self-checking convergence).

    One narrow mapInPandas scan, no shuffle; caption rides through
    per the north-rule row invariant. Output:
    (image_id, n_fg, n_comps, max_comp, ch, caption) with
    ch = Σ over components of (root·1000003 + size) mod 2147483647."""
    import pandas as pd

    INF = np.int64(1) << np.int64(62)

    def gen(it):
        for pdf in it:
            out = {"image_id": [], "n_fg": [], "n_comps": [],
                   "max_comp": [], "ch": [], "caption": []}
            for r in pdf.itertuples():
                rgba = decode_image(r.bytes, r.fmt, int(r.w), int(r.h))
                a = rgba.astype(np.int64)
                g = (a[..., 0] * 77 + a[..., 1] * 151 + a[..., 2] * 28) >> 8
                mask = (g % mod) == 0
                h, w = mask.shape
                pid = np.arange(h * w, dtype=np.int64).reshape(h, w)
                lbl = np.where(mask, pid, INF)
                while True:
                    up = np.full_like(lbl, INF)
                    up[1:, :] = lbl[:-1, :]
                    dn = np.full_like(lbl, INF)
                    dn[:-1, :] = lbl[1:, :]
                    lf = np.full_like(lbl, INF)
                    lf[:, 1:] = lbl[:, :-1]
                    rt = np.full_like(lbl, INF)
                    rt[:, :-1] = lbl[:, 1:]
                    nb = np.minimum(np.minimum(up, dn), np.minimum(lf, rt))
                    new = np.where(mask, np.minimum(lbl, nb), INF)
                    if (new == lbl).all():
                        break
                    lbl = new
                roots, counts = (
                    np.unique(lbl[mask], return_counts=True)
                    if mask.any()
                    else (np.empty(0, np.int64), np.empty(0, np.int64))
                )
                out["image_id"].append(r.image_id)
                out["n_fg"].append(int(counts.sum()))
                out["n_comps"].append(len(roots))
                out["max_comp"].append(int(counts.max()) if len(counts) else 0)
                out["ch"].append(
                    int(((roots * 1000003 + counts) % 2147483647).sum())
                )
                out["caption"].append(r.caption)
            yield pd.DataFrame(out)

    return images.mapInPandas(
        gen,
        "image_id string, n_fg long, n_comps long, max_comp long, "
        "ch long, caption string",
    )


def raster_downzoom(tiles: DataFrame, tile_size: int) -> DataFrame:
    """R7 raster overview build — the child→parent pyramid rollup for
    RASTER tiles (GDAL BuildOverviews / mapnik raster pyramid parity;
    the raster twin of composite.downzoom_layers): four z children
    collapse into one z−1 parent, each child box-filtered 2×2 (floor
    mean — pinned) into its quadrant; absent children leave a zero
    quadrant.

    Input: (z, x, y, raster) with raster = tile_size² luma bytes.
    One bounded-fan-in shuffle on the parent key (≤4 rows per group —
    no skew possible by construction). Output per parent:
    (z, x, y, occ, px_sum, wsum) where occ = bitmask of present
    children (bit dy·2+dx), px_sum = Σ parent pixels, and wsum =
    Σ val·(row·T + col + 1) — the POSITIONAL witness: a quadrant
    composited at the wrong offset changes wsum even when px_sum
    survives."""
    import pandas as pd

    T = tile_size
    H = T // 2

    def kernel(key, pdf):
        z, px, py = int(key[0]), int(key[1]), int(key[2])
        parent = np.zeros((T, T), dtype=np.int64)
        occ = 0
        for r in pdf.itertuples():
            child = np.frombuffer(r.raster, dtype=np.uint8).reshape(T, T)
            q = (
                child[0::2, 0::2].astype(np.int64)
                + child[1::2, 0::2]
                + child[0::2, 1::2]
                + child[1::2, 1::2]
            ) // 4
            dx, dy = int(r.x) & 1, int(r.y) & 1
            parent[dy * H : dy * H + H, dx * H : dx * H + H] = q
            occ |= 1 << (dy * 2 + dx)
        w = np.arange(1, T * T + 1, dtype=np.int64).reshape(T, T)
        return pd.DataFrame(
            [
                (
                    z - 1,
                    px,
                    py,
                    occ,
                    int(parent.sum()),
                    int((parent * w).sum()),
                )
            ],
            columns=["z", "x", "y", "occ", "px_sum", "wsum"],
        )

    return (
        tiles.withColumn("px", F.expr("x div 2"))
        .withColumn("py", F.expr("y div 2"))
        .groupBy("z", "px", "py")
        .applyInPandas(
            kernel,
            "z long, x long, y long, occ long, px_sum long, wsum long",
        )
    )


def _div255(t: np.ndarray) -> np.ndarray:
    """pixman/cairo's exact integer round(t/255) for t >= 0:
    (t + 128 + ((t + 128) >> 8)) >> 8."""
    u = t + 128
    return (u + (u >> 8)) >> 8


def raster_composite_over(tiles: DataFrame, tile_size: int) -> DataFrame:
    """R8 Porter-Duff OVER compositing of stacked raster tiles —
    mapnik's composite_mode_e src_over / pixman parity, the raster
    twin of the vector tile composite: per (z,x,y), layers fold
    bottom-up in layer_order with the EXACT pixman integer rounding
    div255(t) = (t+128+((t+128)>>8))>>8 (== round(t/255) for the
    whole uint16 range), in premultiplied space:

      out  = prem(src) + div255(dst · (255 − a_src))        per channel
      a_out = a_src     + div255(a_dst · (255 − a_src))

    Input: (z, x, y, layer_order, raster) with raster = tile_size²
    interleaved (luma, alpha) byte pairs, non-premultiplied. One
    shuffle on the tile key; layers per tile are style-bounded (the
    100 TB axis is tile count). Output per tile: (z, x, y, n_layers,
    sum_l, sum_a, wsum) — premultiplied channel sums plus the
    positional luma witness Σ l·(row·T+col+1) (catches any
    wrong-order fold: OVER is not commutative)."""
    import pandas as pd

    T = tile_size

    def kernel(key, pdf):
        z, x, y = int(key[0]), int(key[1]), int(key[2])
        pdf = pdf.sort_values("layer_order", kind="mergesort")
        out_l = np.zeros((T, T), dtype=np.int64)
        out_a = np.zeros((T, T), dtype=np.int64)
        for r in pdf.itertuples():
            la = np.frombuffer(r.raster, dtype=np.uint8).reshape(T, T, 2)
            sl = la[..., 0].astype(np.int64)
            sa = la[..., 1].astype(np.int64)
            prem = _div255(sl * sa)
            out_l = prem + _div255(out_l * (255 - sa))
            out_a = sa + _div255(out_a * (255 - sa))
        w = np.arange(1, T * T + 1, dtype=np.int64).reshape(T, T)
        return pd.DataFrame(
            [
                (
                    z, x, y, len(pdf),
                    int(out_l.sum()), int(out_a.sum()),
                    int((out_l * w).sum()),
                )
            ],
            columns=["z", "x", "y", "n_layers", "sum_l", "sum_a", "wsum"],
        )

    return tiles.groupBy("z", "x", "y").applyInPandas(
        kernel,
        "z long, x long, y long, n_layers long, sum_l long, sum_a long, "
        "wsum long",
    )


def terrain_rgb_encode(dm: np.ndarray) -> np.ndarray:
    """Mapbox Terrain-RGB encode (public spec: elevation =
    -10000 + (R·65536 + G·256 + B)·0.1). Exact in integer DECIMETER
    units: v = e_dm + 100000, packed big-endian into (R, G, B).
    dm: int array of decimeter elevations, any shape; returns
    uint8[..., 3]."""
    v = (dm.astype(np.int64) + 100000)
    if (v < 0).any() or (v >= 1 << 24).any():
        raise ValueError("terrain-rgb elevation out of 24-bit range")
    return np.stack(
        [(v >> 16) & 255, (v >> 8) & 255, v & 255], axis=-1
    ).astype(np.uint8)


def terrain_rgb_decode(rgb: np.ndarray) -> np.ndarray:
    """Inverse of terrain_rgb_encode — int64 decimeters."""
    v = (
        rgb[..., 0].astype(np.int64) * 65536
        + rgb[..., 1].astype(np.int64) * 256
        + rgb[..., 2].astype(np.int64)
    )
    return v - 100000


def terrain_tiles_stats(tiles: DataFrame, tile_size: int) -> DataFrame:
    """R9 terrain tile analysis through the Terrain-RGB codec —
    input (z, x, y, raster) with raster = tile_size² RGB byte triples
    (Mapbox terrain-rgb). Decodes to decimeter elevations and folds
    the standard DEM summary: min/max/sum plus integer roughness
    (Σ|Δe| along rows and columns — the slope magnitude proxy that
    needs no floats). A codec bug anywhere breaks equality with the
    closed-form twin. One narrow scan, no shuffle."""
    import pandas as pd

    T = tile_size

    def gen(it):
        for pdf in it:
            out = {"z": [], "x": [], "y": [], "min_dm": [], "max_dm": [],
                   "sum_dm": [], "rough_x": [], "rough_y": []}
            for r in pdf.itertuples():
                rgb = np.frombuffer(r.raster, dtype=np.uint8).reshape(
                    T, T, 3
                )
                e = terrain_rgb_decode(rgb)
                out["z"].append(int(r.z))
                out["x"].append(int(r.x))
                out["y"].append(int(r.y))
                out["min_dm"].append(int(e.min()))
                out["max_dm"].append(int(e.max()))
                out["sum_dm"].append(int(e.sum()))
                out["rough_x"].append(int(np.abs(np.diff(e, axis=1)).sum()))
                out["rough_y"].append(int(np.abs(np.diff(e, axis=0)).sum()))
            yield pd.DataFrame(out)

    return tiles.mapInPandas(
        gen,
        "z long, x long, y long, min_dm long, max_dm long, sum_dm long, "
        "rough_x long, rough_y long",
    )


def exif_normalize_stats(images: DataFrame) -> DataFrame:
    """T12m EXIF orientation normalization — apply the inverse of the
    EXIF orientation tag (1..8) so every image is upright (PIL
    `ImageOps.exif_transpose` / libvips autorotate parity), pinned as
    the standard index maps:

      1 identity            2 flip-H              3 rotate 180
      4 flip-V              5 transpose           6 rotate 90 CW
      7 transverse          8 rotate 90 CCW

    (5-8 swap the output dimensions). Input rows carry an `orient`
    column; the kernel decodes, transforms the luma plane with pure
    numpy views (no copies beyond the luma), and emits the
    dimension-aware summary: px_sum is transform-INVARIANT (a decode
    bug detector) while wsum = Σ v·(row·W_out + col + 1) is
    transform-SENSITIVE — the oracle recomputes it by remapping each
    SOURCE pixel to its destination index, so the two engines agree
    only if the index maps match exactly. One narrow scan."""
    import pandas as pd

    def gen(it):
        for pdf in it:
            out = {"image_id": [], "orient": [], "out_w": [], "out_h": [],
                   "px_sum": [], "wsum": []}
            for r in pdf.itertuples():
                rgba = decode_image(r.bytes, r.fmt, int(r.w), int(r.h))
                a = rgba.astype(np.int64)
                g = (a[..., 0] * 77 + a[..., 1] * 151 + a[..., 2] * 28) >> 8
                o = int(r.orient)
                if o == 2:
                    u = g[:, ::-1]
                elif o == 3:
                    u = g[::-1, ::-1]
                elif o == 4:
                    u = g[::-1, :]
                elif o == 5:
                    u = g.T
                elif o == 6:
                    u = g[::-1, :].T
                elif o == 7:
                    u = g[::-1, ::-1].T
                elif o == 8:
                    u = g[:, ::-1].T
                else:
                    u = g
                oh, ow = u.shape
                w = np.arange(1, oh * ow + 1, dtype=np.int64).reshape(
                    oh, ow
                )
                out["image_id"].append(r.image_id)
                out["orient"].append(o)
                out["out_w"].append(ow)
                out["out_h"].append(oh)
                out["px_sum"].append(int(u.sum()))
                out["wsum"].append(int((u * w).sum()))
            yield pd.DataFrame(out)

    return images.mapInPandas(
        gen,
        "image_id string, orient long, out_w long, out_h long, "
        "px_sum long, wsum long",
    )


# Horn hillshade light vector (integer, unnormalized): azimuth NW,
# altitude atan(2/sqrt(2)) ~ 54.7 deg. Chosen integer so every shade
# comparison below is exact rational arithmetic.
_HS_L = (1, -1, 2)


def hillshade_tiles(tiles: DataFrame, tile_size: int) -> DataFrame:
    """R10 hillshade classification over Terrain-RGB DEM tiles — the
    gdaldem-hillshade analogue kept EXACT: per interior pixel the Horn
    3x3 gradient numerators P = (c+2f+i)-(a+2d+g), Q = (g+2h+i)-(a+2b+c)
    (integer decimeters), unnormalized surface normal n = (-P, -Q, 16)
    and integer light vector l = (1, -1, 2); the Lambert cosine
    cos = n.l / (|n||l|) is classified into 4 bands by exact
    cross-multiplied squares — cos <= 0 (shadow), cos^2 against 1/4,
    1/2, 3/4 of |n|^2*|l|^2 — so no float ever enters. Output per tile:
    band histogram + sum(n.l) + sum(|n|^2), a full-strength value hash
    over the whole shading field.

    One narrow decode+conv pass (numpy slice sums, no per-row Python
    beyond the tile loop already bounded per Arrow batch), no shuffle:
    scales like every other raster scan here."""
    import pandas as pd

    T = tile_size
    lx, ly, lz = _HS_L
    l2 = lx * lx + ly * ly + lz * lz

    def gen(it):
        for pdf in it:
            out = {"z": [], "x": [], "y": [], "n_px": [],
                   "c0": [], "c1": [], "c2": [], "c3": [],
                   "sum_nl": [], "sum_n2": []}
            for r in pdf.itertuples():
                rgb = np.frombuffer(r.raster, dtype=np.uint8).reshape(
                    T, T, 3
                )
                e = terrain_rgb_decode(rgb)
                # Horn numerators on the interior grid
                a = e[:-2, :-2]; b = e[:-2, 1:-1]; c = e[:-2, 2:]
                d = e[1:-1, :-2];                 f = e[1:-1, 2:]
                g = e[2:, :-2];  h = e[2:, 1:-1]; i = e[2:, 2:]
                P = (c + 2 * f + i) - (a + 2 * d + g)
                Q = (g + 2 * h + i) - (a + 2 * b + c)
                nl = -P * lx - Q * ly + 16 * lz
                n2 = P * P + Q * Q + 256
                lhs = 4 * nl * nl          # 4*cos^2 * n2 * l2
                rhs = n2 * l2
                band = np.where(
                    nl <= 0,
                    0,
                    1 + (lhs >= rhs).astype(np.int64)
                    + (lhs >= 2 * rhs).astype(np.int64)
                    + (lhs >= 3 * rhs).astype(np.int64),
                )
                # bands: 0 shadow; 1: cos^2<1/4; 2: [1/4,1/2);
                # 3: [1/2,3/4); 4: >=3/4 — fold 3,4 upward into c3?
                # keep 4 counters: c0 = shadow, c1 = band1, c2 = band2,
                # c3 = bands 3+4 (bright)
                out["z"].append(int(r.z))
                out["x"].append(int(r.x))
                out["y"].append(int(r.y))
                out["n_px"].append(int(band.size))
                out["c0"].append(int((band == 0).sum()))
                out["c1"].append(int((band == 1).sum()))
                out["c2"].append(int((band == 2).sum()))
                out["c3"].append(int((band >= 3).sum()))
                out["sum_nl"].append(int(nl.sum()))
                out["sum_n2"].append(int(n2.sum()))
            yield pd.DataFrame(out)

    return tiles.select("z", "x", "y", "raster").mapInPandas(
        gen,
        "z long, x long, y long, n_px long, c0 long, c1 long, c2 long,"
        " c3 long, sum_nl long, sum_n2 long",
    )


def sprite_atlas(
    icons: DataFrame, atlas: int = 256, group_col: str = "g"
) -> DataFrame:
    """R11 sprite-atlas packing — shelf-pack every group's icon set
    into fixed-size sheets (functions/shelfpack.py; the
    spritezero/shelf-pack step that publishes a sprite sheet next to
    each style's tiles). One atlas per GROUP: the global-state
    algorithm is sequential per atlas but atlases are independent, so
    this is the grouped-kernel shape (repartition on the group key +
    in-batch group loop via operators/grouped.apply_grouped — no
    per-group Python-worker round trip).

    icons: (group_col, icon_id, w, h). Output: (g, icon_id, sheet,
    px, py) — the full placement relation, hashable row-for-row."""
    from mapnik_vector_tile_spark.functions.shelfpack import shelf_pack
    from mapnik_vector_tile_spark.operators.grouped import apply_grouped

    def kernel(key, cols, sl):
        g = int(key[0])
        ids = cols["icon_id"][sl]
        ws = cols["w"][sl]
        hs = cols["h"][sl]
        placed = shelf_pack(
            [(int(i), int(w), int(h)) for i, w, h in zip(ids, ws, hs)],
            atlas,
        )
        return [(g, i, s, x, y) for i, s, x, y in placed]

    return apply_grouped(
        icons.select(group_col, "icon_id", "w", "h"),
        keys=[group_col],
        order_by=[group_col, "icon_id"],
        fn=kernel,
        schema="g long, icon_id long, sheet long, px long, py long",
        out_columns=["g", "icon_id", "sheet", "px", "py"],
    )


HARRIS_THR = 10_000_000  # response floor, exact-integer scale (k=1/16)


def harris_corner_stats(images: DataFrame) -> DataFrame:
    """T12j Harris corner response — the classic interest-point
    detector (Harris & Stephens '88; every SIFT/ORB-era vision
    pipeline's first stage) rebuilt integer-exact so the DuckDB twin
    replays it decision-for-decision:

      gx, gy       : 3x3 Sobel over the shared ITU-601 luma8 grid
      A, B, C      : gx^2, gy^2, gx*gy per pixel
      Sa, Sb, Sc   : unweighted 3x3 window sums (the box variant of
                     the Gaussian structure tensor)
      R16          : 16*(Sa*Sb - Sc^2) - (Sa+Sb)^2  — Harris with
                     k = 1/16 cleared of the fraction (fits int64:
                     |R16| < 1.5e15 at 8-bit depth)
      corner       : R16 > HARRIS_THR and R16 STRICTLY greater than
                     all 8 neighbors (plateau ties yield no corner —
                     pinned, deterministic NMS)

    Output per image: (image_id, n_pos, n_corners, sum_r, max_r,
    caption) with sum_r over corners only. One narrow mapInPandas
    scan, no shuffle; caption rides through per the north-rule row
    invariant."""
    import pandas as pd

    def gen(it):
        for pdf in it:
            out = {"image_id": [], "n_pos": [], "n_corners": [],
                   "sum_r": [], "max_r": [], "caption": []}
            for r in pdf.itertuples():
                rgba = decode_image(r.bytes, r.fmt, int(r.w), int(r.h))
                a = rgba.astype(np.int64)
                g = (a[..., 0] * 77 + a[..., 1] * 151 + a[..., 2] * 28) >> 8
                gx = (
                    (g[:-2, 2:] + 2 * g[1:-1, 2:] + g[2:, 2:])
                    - (g[:-2, :-2] + 2 * g[1:-1, :-2] + g[2:, :-2])
                )
                gy = (
                    (g[2:, :-2] + 2 * g[2:, 1:-1] + g[2:, 2:])
                    - (g[:-2, :-2] + 2 * g[:-2, 1:-1] + g[:-2, 2:])
                )
                A, B, C = gx * gx, gy * gy, gx * gy

                def box3(m):
                    return (
                        m[:-2, :-2] + m[:-2, 1:-1] + m[:-2, 2:]
                        + m[1:-1, :-2] + m[1:-1, 1:-1] + m[1:-1, 2:]
                        + m[2:, :-2] + m[2:, 1:-1] + m[2:, 2:]
                    )

                sa, sb, sc = box3(A), box3(B), box3(C)
                r16 = 16 * (sa * sb - sc * sc) - (sa + sb) * (sa + sb)
                # strict 8-neighbor NMS on the response interior
                ri = r16[1:-1, 1:-1]
                nmax = np.maximum.reduce([
                    r16[:-2, :-2], r16[:-2, 1:-1], r16[:-2, 2:],
                    r16[1:-1, :-2], r16[1:-1, 2:],
                    r16[2:, :-2], r16[2:, 1:-1], r16[2:, 2:],
                ])
                corner = (ri > HARRIS_THR) & (ri > nmax)
                out["image_id"].append(r.image_id)
                out["n_pos"].append(int((r16 > 0).sum()))
                out["n_corners"].append(int(corner.sum()))
                out["sum_r"].append(int(ri[corner].sum()))
                out["max_r"].append(int(r16.max()) if r16.size else 0)
                out["caption"].append(r.caption)
            yield pd.DataFrame(out)

    return images.select(
        "image_id", "bytes", "fmt", "w", "h", "caption"
    ).mapInPandas(
        gen,
        "image_id string, n_pos long, n_corners long, sum_r long,"
        " max_r long, caption string",
    )


def quality_mosaic(scenes: DataFrame, tile_size: int) -> DataFrame:
    """R12 best-pixel mosaic — the max-value composite (Earth Engine
    qualityMosaic / MODIS max-NDVI compositing) over overlapping
    scenes of the same tile: each output pixel comes from the scene
    whose pixel value is largest, ties to the smaller scene_id.
    The per-scene provenance (how many pixels each scene won, and
    their sum) plus a positional wsum of the mosaic pin both the
    argmax decisions and the composite placement.

    scenes: (z, x, y, scene_id, raster) — raster = tile_size² uint8
    luma bytes.  Grouped-kernel execution (repartition on the tile
    key + in-batch group loop): the stack-argmax is one numpy pass
    per tile, fan-in bounded by scenes-per-tile.

    Output: one row per (z, x, y, scene_id) — pixels_won, sum_won,
    and the tile-level mosaic_wsum repeated per row (Σ (r·T+c+1)·v
    over the winning values)."""
    from mapnik_vector_tile_spark.operators.grouped import apply_grouped

    T = tile_size

    def kernel(key, cols, sl):
        z, x, y = (int(k) for k in key)
        sids = cols["scene_id"][sl]
        rasters = cols["raster"][sl]
        order = np.argsort(sids, kind="stable")
        sids = sids[order]
        stack = np.stack(
            [
                np.frombuffer(rasters[i], dtype=np.uint8).reshape(T, T)
                for i in order
            ]
        ).astype(np.int64)
        win = stack.argmax(axis=0)  # first max = smallest scene_id
        vals = np.take_along_axis(stack, win[None], axis=0)[0]
        pos = np.arange(1, T * T + 1, dtype=np.int64).reshape(T, T)
        wsum = int((pos * vals).sum())
        rows = []
        for i, sid in enumerate(sids):
            mask = win == i
            rows.append(
                (
                    z, x, y, int(sid),
                    int(mask.sum()), int(vals[mask].sum()), wsum,
                )
            )
        return rows

    return apply_grouped(
        scenes.select("z", "x", "y", "scene_id", "raster"),
        keys=["z", "x", "y"],
        order_by=["z", "x", "y", "scene_id"],
        fn=kernel,
        schema="z long, x long, y long, scene_id long, pixels_won long,"
        " sum_won long, mosaic_wsum long",
        out_columns=[
            "z", "x", "y", "scene_id", "pixels_won", "sum_won",
            "mosaic_wsum",
        ],
    )


def convolve_tiles(
    tiles: DataFrame, kernel: DataFrame, tile_size: int
) -> DataFrame:
    """R13 generic integer 2D convolution with the kernel as DATA —
    the user-supplied-filter primitive (GEE convolve(), rasterio
    generic_filter, the custom sharpen/emboss/edge kernels GIS users
    bring): correlation of each tile's uint8 plane with a broadcast
    (dy, dx, w) weight table, valid-region only (no padding
    invention), exact int64.

    kernel: small DataFrame (dy, dx, w) — collected once on the
    driver and broadcast inside the closure (a dim table by
    construction; at fleet scale it is the same broadcast a
    Catalyst join would emit, without paying a join against every
    pixel).  Per tile: Σresp, Σ|resp|, min, max, positional wsum over
    the valid region.  One narrow decode+accumulate scan (one
    vectorized slice-multiply per kernel tap), no shuffle."""
    import pandas as pd

    T = tile_size
    taps = [
        (int(r["dy"]), int(r["dx"]), int(r["w"]))
        for r in kernel.select("dy", "dx", "w").collect()
    ]
    if not taps:
        raise ValueError("convolve_tiles: empty kernel")
    ry0 = min(t[0] for t in taps)
    ry1 = max(t[0] for t in taps)
    rx0 = min(t[1] for t in taps)
    rx1 = max(t[1] for t in taps)
    oh = T - (ry1 - ry0)
    ow = T - (rx1 - rx0)
    if oh <= 0 or ow <= 0:
        raise ValueError("convolve_tiles: kernel larger than tile")

    def gen(it):
        pos = np.arange(1, oh * ow + 1, dtype=np.int64).reshape(oh, ow)
        for pdf in it:
            out = {"z": [], "x": [], "y": [], "n_px": [], "sum_r": [],
                   "sum_abs": [], "min_r": [], "max_r": [], "wsum": []}
            for r in pdf.itertuples():
                g = np.frombuffer(r.raster, dtype=np.uint8).reshape(
                    T, T
                ).astype(np.int64)
                acc = np.zeros((oh, ow), dtype=np.int64)
                for dy, dx, w in taps:
                    sy = dy - ry0
                    sx = dx - rx0
                    acc += w * g[sy : sy + oh, sx : sx + ow]
                out["z"].append(int(r.z))
                out["x"].append(int(r.x))
                out["y"].append(int(r.y))
                out["n_px"].append(oh * ow)
                out["sum_r"].append(int(acc.sum()))
                out["sum_abs"].append(int(np.abs(acc).sum()))
                out["min_r"].append(int(acc.min()))
                out["max_r"].append(int(acc.max()))
                out["wsum"].append(int((pos * acc).sum()))
            yield pd.DataFrame(out)

    return tiles.select("z", "x", "y", "raster").mapInPandas(
        gen,
        "z long, x long, y long, n_px long, sum_r long, sum_abs long,"
        " min_r long, max_r long, wsum long",
    )


# D8 direction order (pinned tie order = stack order): E, SE, S, SW,
# W, NW, N, NE; offsets (dy, dx), diag flag
_D8 = (
    (0, (0, 1), 0), (1, (1, 1), 1), (2, (1, 0), 0), (3, (1, -1), 1),
    (4, (0, -1), 0), (5, (-1, -1), 1), (6, (-1, 0), 0), (7, (-1, 1), 1),
)


def flow_direction_tiles(tiles: DataFrame, tile_size: int) -> DataFrame:
    """R14 D8 flow direction + sink census over Terrain-RGB DEM tiles
    — the first step of every raster hydrology stack (gdaldem / ESRI
    FlowDirection / TauDEM D8), made EXACT: steepest descent compares
    drop/distance across cardinal (dist 1) and diagonal (dist √2)
    neighbors by cross-multiplied squares — key = 2·drop² cardinal,
    drop² diagonal, valid only when drop > 0 — so no float ever
    enters; ties break to the pinned direction order E,SE,S,SW,W,NW,
    N,NE; cells with no positive drop are sinks (dir −1, the
    depression set a fill step would process).

    Output: one row per (z, x, y, dir) — n_cells and Σ winning key
    (the steepness witness). One narrow decode scan, no shuffle."""
    import pandas as pd

    T = tile_size

    def gen(it):
        for pdf in it:
            out = {"z": [], "x": [], "y": [], "dir": [], "n_cells": [],
                   "sum_key": []}
            for r in pdf.itertuples():
                rgb = np.frombuffer(r.raster, dtype=np.uint8).reshape(
                    T, T, 3
                )
                e = terrain_rgb_decode(rgb)
                c = e[1:-1, 1:-1]
                keys = []
                for _, (dy, dx), diag in _D8:
                    nb = e[1 + dy : T - 1 + dy, 1 + dx : T - 1 + dx]
                    drop = c - nb
                    k = np.where(drop > 0, drop * drop, 0)
                    if not diag:
                        k = 2 * k
                    keys.append(k)
                stack = np.stack(keys)
                best = stack.max(axis=0)
                win = stack.argmax(axis=0)  # first max = pinned order
                dirs = np.where(best > 0, win, -1)
                for d in (-1, *range(8)):
                    mask = dirs == d
                    n = int(mask.sum())
                    if n == 0:
                        continue
                    out["z"].append(int(r.z))
                    out["x"].append(int(r.x))
                    out["y"].append(int(r.y))
                    out["dir"].append(int(d))
                    out["n_cells"].append(n)
                    out["sum_key"].append(
                        int(best[mask].sum()) if d >= 0 else 0
                    )
            yield pd.DataFrame(out)

    return tiles.select("z", "x", "y", "raster").mapInPandas(
        gen,
        "z long, x long, y long, dir long, n_cells long, sum_key long",
    )


def flow_accumulation_tiles(
    tiles: DataFrame, tile_size: int, rounds: int = 8
) -> DataFrame:
    """R15 hop-bounded D8 flow accumulation — the second hydrology
    step (ESRI FlowAccumulation / TauDEM AreaD8): every cell drains to
    its flow_direction_tiles neighbor; acc_R(v) = number of cells
    whose drainage path reaches v in ≤ R hops (incl. v itself) — the
    same fixed-round contract as bellman_ford/pagerank, exact for
    drainage trees of depth ≤ R and bit-identical across engines with
    no convergence argument.  Per-tile interior drainage (dirs exist
    only where the 3×3 window is in-tile); the cross-tile variant is
    the identical Pregel join keyed on the global cell id — the
    per-tile kernel IS the map-side of that plan.

    Output per tile: n_cells, sum_acc, max_acc, positional wsum."""
    import pandas as pd

    T = tile_size

    def gen(it):
        offs = {d: (dy, dx) for d, (dy, dx), _ in _D8}
        for pdf in it:
            out = {"z": [], "x": [], "y": [], "n_cells": [],
                   "sum_acc": [], "max_acc": [], "wsum": []}
            for r in pdf.itertuples():
                rgb = np.frombuffer(r.raster, dtype=np.uint8).reshape(
                    T, T, 3
                )
                e = terrain_rgb_decode(rgb)
                c = e[1:-1, 1:-1]
                keys = []
                for _, (dy, dx), diag in _D8:
                    nb = e[1 + dy : T - 1 + dy, 1 + dx : T - 1 + dx]
                    drop = c - nb
                    k = np.where(drop > 0, drop * drop, 0)
                    keys.append(k if diag else 2 * k)
                stack = np.stack(keys)
                best = stack.max(axis=0)
                win = stack.argmax(axis=0)
                oh = T - 2
                # flatten interior; build edge u -> v for non-sinks
                # whose receiver is ALSO an interior cell
                iy, ix = np.nonzero(best > 0)
                d = win[iy, ix]
                dy = np.array([offs[k][0] for k in range(8)])[d]
                dx = np.array([offs[k][1] for k in range(8)])[d]
                ty, tx = iy + dy, ix + dx
                ok = (
                    (ty >= 0) & (ty < oh) & (tx >= 0) & (tx < oh)
                )
                src = iy[ok] * oh + ix[ok]
                dst = ty[ok] * oh + tx[ok]
                acc = np.ones(oh * oh, dtype=np.int64)
                for _ in range(rounds):
                    nxt = np.ones(oh * oh, dtype=np.int64)
                    np.add.at(nxt, dst, acc[src])
                    acc = nxt
                pos = np.arange(1, oh * oh + 1, dtype=np.int64)
                out["z"].append(int(r.z))
                out["x"].append(int(r.x))
                out["y"].append(int(r.y))
                out["n_cells"].append(oh * oh)
                out["sum_acc"].append(int(acc.sum()))
                out["max_acc"].append(int(acc.max()))
                out["wsum"].append(int((pos * acc).sum()))
            yield pd.DataFrame(out)

    return tiles.select("z", "x", "y", "raster").mapInPandas(
        gen,
        "z long, x long, y long, n_cells long, sum_acc long,"
        " max_acc long, wsum long",
    )


HM_REF_DEN = 256 * 257 // 2  # triangular reference: cdf_num(t) = (t+1)(t+2)/2


def histogram_match_stats(images: DataFrame) -> DataFrame:
    """T12q histogram matching (specification) — remap each image's
    luma distribution onto a FIXED triangular reference (the
    domain-adaptation preprocessing step; cv2/scikit-image
    match_histograms with a closed-form target so the oracle needs no
    second image), kept EXACT: lut[v] = min t with
    ref_cdf_num(t)·n ≥ cdf[v]·ref_den, all BIGINT cross-products —
    matching to the UNIFORM reference degenerates to equalization
    (raster.equalize_stats), which pins the family relationship in
    tests.

    Output per image: (image_id, n_px, sum_m, max_m, wsum, caption)
    over the mapped plane — the positional wsum pins every remapped
    pixel.  One narrow scan, no shuffle."""
    import pandas as pd

    t = np.arange(256, dtype=np.int64)
    ref_num = (t + 1) * (t + 2) // 2

    def gen(it):
        for pdf in it:
            out = {"image_id": [], "n_px": [], "sum_m": [], "max_m": [],
                   "wsum": [], "caption": []}
            for r in pdf.itertuples():
                rgba = decode_image(r.bytes, r.fmt, int(r.w), int(r.h))
                a = rgba.astype(np.int64)
                g = (a[..., 0] * 77 + a[..., 1] * 151 + a[..., 2] * 28) >> 8
                n = g.size
                hist = np.bincount(g.ravel(), minlength=256)
                cdf = np.cumsum(hist)
                lut = np.searchsorted(
                    ref_num * n, cdf * HM_REF_DEN, side="left"
                )
                m = lut[g]
                pos = np.arange(1, n + 1, dtype=np.int64).reshape(g.shape)
                out["image_id"].append(r.image_id)
                out["n_px"].append(n)
                out["sum_m"].append(int(m.sum()))
                out["max_m"].append(int(m.max()))
                out["wsum"].append(int((pos * m).sum()))
                out["caption"].append(r.caption)
            yield pd.DataFrame(out)

    return images.select(
        "image_id", "bytes", "fmt", "w", "h", "caption"
    ).mapInPandas(
        gen,
        "image_id string, n_px long, sum_m long, max_m long, wsum long,"
        " caption string",
    )


def cutmix_stats(images: DataFrame, pairs: DataFrame) -> DataFrame:
    """T12r CutMix augmentation accounting (Yun et al. 2019) — the
    paired-image regularizer vision training runs: a splitmix-located
    rectangle of image B replaces the same region of image A, and the
    label mixes by the surviving-area ratio.  Exact: the patch
    geometry derives from splitmix64(pair_id) over the PAIR'S shared
    dimension window (mw, mh) = (min widths, min heights), so the
    pasted region always exists in both sources; the mix ratio is
    kept as the integer pair (lam_num, lam_den) = (area_A − patch,
    area_A); the mixed plane is pinned by a positional luma wsum.

    pairs: (pair_id, ida, idb).  One self-join of the image table
    (broadcastable pair list), then a narrow two-decode kernel per
    pair — no shuffle beyond the pair join.  Captions concatenate
    'capA | capB' per the CutMix label-mixing contract and the
    north-rule caption invariant."""
    import pandas as pd

    from mapnik_vector_tile_spark.sources.synth import splitmix64

    a = images.select(
        F.col("image_id").alias("ida"), F.col("bytes").alias("ba"),
        F.col("fmt").alias("fa"), F.col("w").alias("wa"),
        F.col("h").alias("ha"), F.col("caption").alias("ca"),
    )
    b = images.select(
        F.col("image_id").alias("idb"), F.col("bytes").alias("bb"),
        F.col("fmt").alias("fb"), F.col("w").alias("wb"),
        F.col("h").alias("hb"), F.col("caption").alias("cb"),
    )
    j = pairs.join(a, "ida").join(b, "idb")

    def gen(it):
        for pdf in it:
            out = {"pair_id": [], "lam_num": [], "lam_den": [],
                   "patch_area": [], "wsum": [], "caption": []}
            for r in pdf.itertuples():
                pa = decode_image(r.ba, r.fa, int(r.wa), int(r.ha))
                pb = decode_image(r.bb, r.fb, int(r.wb), int(r.hb))
                ga = (
                    pa[..., 0].astype(np.int64) * 77
                    + pa[..., 1].astype(np.int64) * 151
                    + pa[..., 2].astype(np.int64) * 28
                ) >> 8
                gb = (
                    pb[..., 0].astype(np.int64) * 77
                    + pb[..., 1].astype(np.int64) * 151
                    + pb[..., 2].astype(np.int64) * 28
                ) >> 8
                mw = min(int(r.wa), int(r.wb))
                mh = min(int(r.ha), int(r.hb))
                hh = int(
                    splitmix64(
                        np.array([int(r.pair_id)], dtype=np.uint64)
                    )[0]
                )
                pw = 1 + hh % max(1, mw // 2)
                ph = 1 + (hh >> 8) % max(1, mh // 2)
                x0 = (hh >> 16) % (mw - pw + 1)
                y0 = (hh >> 24) % (mh - ph + 1)
                mixed = ga.copy()
                mixed[y0 : y0 + ph, x0 : x0 + pw] = gb[
                    y0 : y0 + ph, x0 : x0 + pw
                ]
                n = ga.size
                pos = np.arange(1, n + 1, dtype=np.int64).reshape(
                    ga.shape
                )
                out["pair_id"].append(int(r.pair_id))
                out["lam_num"].append(n - pw * ph)
                out["lam_den"].append(n)
                out["patch_area"].append(pw * ph)
                out["wsum"].append(int((pos * mixed).sum()))
                out["caption"].append(f"{r.ca} | {r.cb}")
            yield pd.DataFrame(out)

    return j.mapInPandas(
        gen,
        "pair_id long, lam_num long, lam_den long, patch_area long,"
        " wsum long, caption string",
    )


QT_TAU = 24


def quadtree_stats(
    tiles: DataFrame, tile_size: int, tau: int = QT_TAU
) -> DataFrame:
    """R16 quadtree decomposition — the homogeneous-region split
    behind quadtree image compression / mipmap early-out / S2-style
    variable-resolution rasters: a block is a LEAF at the shallowest
    depth where max−min ≤ tau (single pixels are always homogeneous,
    so the decomposition is total and exact — Σ leaves·area == tile
    area, asserted by construction in the oracle).

    Per tile: reshape-based per-depth block max/min (pure numpy, one
    pass per depth), ancestor mask by upsampling the running OR.
    Output one row per (z, x, y, depth): n_leaves and an
    order-sensitive Σ (block_index+1) witness over that depth's
    leaves.  Narrow scan, no shuffle."""
    import pandas as pd

    T = tile_size
    depths = T.bit_length() - 1  # 16 -> 4

    def gen(it):
        for pdf in it:
            out = {"z": [], "x": [], "y": [], "depth": [],
                   "n_leaves": [], "wsum": []}
            for r in pdf.itertuples():
                g = np.frombuffer(r.raster, dtype=np.uint8).reshape(
                    T, T
                ).astype(np.int64)
                anc = np.zeros((1, 1), dtype=bool)
                for d in range(depths + 1):
                    nb = 1 << d
                    bs = T // nb
                    blocks = g.reshape(nb, bs, nb, bs)
                    bmax = blocks.max(axis=(1, 3))
                    bmin = blocks.min(axis=(1, 3))
                    homog = (bmax - bmin) <= tau
                    anc_up = np.repeat(
                        np.repeat(anc, nb // anc.shape[0], axis=0),
                        nb // anc.shape[1],
                        axis=1,
                    )
                    leaf = homog & ~anc_up
                    idx = np.arange(nb * nb, dtype=np.int64).reshape(
                        nb, nb
                    )
                    out["z"].append(int(r.z))
                    out["x"].append(int(r.x))
                    out["y"].append(int(r.y))
                    out["depth"].append(d)
                    out["n_leaves"].append(int(leaf.sum()))
                    out["wsum"].append(int((idx[leaf] + 1).sum()))
                    anc = anc_up | homog
            yield pd.DataFrame(out)

    return tiles.select("z", "x", "y", "raster").mapInPandas(
        gen,
        "z long, x long, y long, depth long, n_leaves long, wsum long",
    )


def watershed_tiles(
    tiles: DataFrame, tile_size: int, doubling_rounds: int | None = None
) -> DataFrame:
    """R17 watershed basins — the third hydrology step (ESRI
    Watershed / TauDEM GageWatershed): every cell labels itself with
    the terminal cell of its D8 drainage path (a sink, or the cell
    where the path exits the interior window).  Resolution is
    POINTER DOUBLING over the drainage forest: root_{t+1}(c) =
    root_t(root_t(c)) reaches 2^R hops in R rounds — exact for all
    paths ≤ 2^R long, the same doubling the dedup CC engine uses.
    A simple D8 path can snake through every interior cell, so full
    coverage needs R = ceil(log2((tile_size-2)^2)) — the DEFAULT
    (8 for 16px tiles, 16 for 256px).  Passing a smaller R is a
    hop-bounded contract: cells farther than 2^R hops from their
    terminal keep a mid-path label and n_basins overcounts.

    Output per (z, x, y): n_basins, max_size, and Σ root_id·size —
    the basin-partition witness.  Narrow scan, no shuffle; the
    cross-tile variant is the identical doubling join keyed on global
    cell ids."""
    import pandas as pd

    T = tile_size
    if doubling_rounds is None:
        doubling_rounds = max(1, ((T - 2) * (T - 2) - 1).bit_length())

    def gen(it):
        offs = {d: (dy, dx) for d, (dy, dx), _ in _D8}
        for pdf in it:
            out = {"z": [], "x": [], "y": [], "n_basins": [],
                   "max_size": [], "wsum": []}
            for r in pdf.itertuples():
                rgb = np.frombuffer(r.raster, dtype=np.uint8).reshape(
                    T, T, 3
                )
                e = terrain_rgb_decode(rgb)
                c = e[1:-1, 1:-1]
                keys = []
                for _, (dy, dx), diag in _D8:
                    nb = e[1 + dy : T - 1 + dy, 1 + dx : T - 1 + dx]
                    drop = c - nb
                    k = np.where(drop > 0, drop * drop, 0)
                    keys.append(k if diag else 2 * k)
                stack = np.stack(keys)
                best = stack.max(axis=0)
                win = stack.argmax(axis=0)
                oh = T - 2
                n = oh * oh
                nxt = np.arange(n, dtype=np.int64)  # self = terminal
                iy, ix = np.nonzero(best > 0)
                d = win[iy, ix]
                dy = np.array([offs[k][0] for k in range(8)])[d]
                dx = np.array([offs[k][1] for k in range(8)])[d]
                ty, tx = iy + dy, ix + dx
                ok = (ty >= 0) & (ty < oh) & (tx >= 0) & (tx < oh)
                nxt[iy[ok] * oh + ix[ok]] = ty[ok] * oh + tx[ok]
                root = nxt.copy()
                for _ in range(doubling_rounds):
                    root = root[root]
                ids, sizes = np.unique(root, return_counts=True)
                out["z"].append(int(r.z))
                out["x"].append(int(r.x))
                out["y"].append(int(r.y))
                out["n_basins"].append(int(len(ids)))
                out["max_size"].append(int(sizes.max()))
                out["wsum"].append(int((ids * sizes).sum()))
            yield pd.DataFrame(out)

    return tiles.select("z", "x", "y", "raster").mapInPandas(
        gen,
        "z long, x long, y long, n_basins long, max_size long,"
        " wsum long",
    )


def strahler_tiles(
    tiles: DataFrame, tile_size: int, rounds: int | None = None
) -> DataFrame:
    """R19 Strahler stream order — the fourth hydrology step (ESRI
    StreamOrder / TauDEM): over the D8 drainage forest (the same
    interior pointers as flow_accumulation/watershed), a cell with no
    upstream children has order 1; otherwise order = max child order,
    +1 when two or more children SHARE that max (the classic junction
    rule).  Iterated bottom-up: R sweeps are exact for drainage trees
    of height ≤ R, and the DEFAULT R = (tile_size−2)² covers any
    simple path on the interior (the watershed doubling lesson — a
    smaller R is a documented hop-bounded contract).

    Output per (z, x, y): max_order, n_sources (order-1 cells),
    sum_order, and Σ order·(ix·8191+iy) as the positional witness."""
    import pandas as pd

    T = tile_size
    if rounds is None:
        rounds = (T - 2) * (T - 2)

    def gen(it):
        offs = {d: (dy, dx) for d, (dy, dx), _ in _D8}
        for pdf in it:
            out = {"z": [], "x": [], "y": [], "max_order": [],
                   "n_sources": [], "sum_order": [], "whash": []}
            for r in pdf.itertuples():
                rgb = np.frombuffer(r.raster, dtype=np.uint8).reshape(
                    T, T, 3
                )
                e = terrain_rgb_decode(rgb)
                c = e[1:-1, 1:-1]
                keys = []
                for _, (dy, dx), diag in _D8:
                    nb = e[1 + dy : T - 1 + dy, 1 + dx : T - 1 + dx]
                    drop = c - nb
                    k = np.where(drop > 0, drop * drop, 0)
                    keys.append(k if diag else 2 * k)
                stack = np.stack(keys)
                best = stack.max(axis=0)
                win = stack.argmax(axis=0)
                oh = T - 2
                n = oh * oh
                iy, ix = np.nonzero(best > 0)
                d = win[iy, ix]
                dy = np.array([offs[k][0] for k in range(8)])[d]
                dx = np.array([offs[k][1] for k in range(8)])[d]
                ty, tx = iy + dy, ix + dx
                ok = (ty >= 0) & (ty < oh) & (tx >= 0) & (tx < oh)
                src = (iy[ok] * oh + ix[ok]).astype(np.int64)
                dst = (ty[ok] * oh + tx[ok]).astype(np.int64)
                indeg = np.zeros(n, dtype=np.int64)
                np.add.at(indeg, dst, 1)
                order = np.ones(n, dtype=np.int64)
                for _ in range(rounds):
                    cm = np.zeros(n, dtype=np.int64)
                    np.maximum.at(cm, dst, order[src])
                    cnt = np.zeros(n, dtype=np.int64)
                    np.add.at(cnt, dst, (order[src] == cm[dst]).astype(
                        np.int64
                    ))
                    new = np.where(
                        indeg > 0, cm + (cnt >= 2).astype(np.int64), 1
                    )
                    if np.array_equal(new, order):
                        break
                    order = new
                gy, gx = np.divmod(np.arange(n), oh)
                out["z"].append(int(r.z))
                out["x"].append(int(r.x))
                out["y"].append(int(r.y))
                out["max_order"].append(int(order.max()))
                out["n_sources"].append(int((order == 1).sum()))
                out["sum_order"].append(int(order.sum()))
                out["whash"].append(int((order * (gx * 8191 + gy)).sum()))
            yield pd.DataFrame(out)

    return tiles.select("z", "x", "y", "raster").mapInPandas(
        gen,
        "z long, x long, y long, max_order long, n_sources long,"
        " sum_order long, whash long",
    )


def viewshed_tiles(
    tiles: DataFrame,
    tile_size: int,
    obs: tuple[int, int] | None = None,
    obs_height: int = 500,
) -> DataFrame:
    """R18 viewshed — line-of-sight visibility from an observer cell
    over the DEM (the GIS r.viewshed / ESRI Viewshed primitive),
    computed with the R3 REFERENCE algorithm (the exact brute-force
    every approximate sweep is validated against): target cell t is
    visible iff NO corridor cell k — center within half a cell of
    the o→t segment, strictly between the endpoints — has
    line-of-sight slope ≥ t's.  Everything is EXACT integer
    arithmetic: corridor membership is 4·cross² < |t−o|² with
    0 < (k−o)·(t−o) < |t−o|², and the slope compare
    (e_k−e_o−h)/d_k ≥ (e_t−e_o−h)/d_t cross-multiplies SQUARES with
    explicit sign handling (ties block).  R3 is O(cells²) per tile —
    the accuracy contract; the Van Kreveld sweep is the documented
    scale refinement and would be oracled AGAINST this.

    Output per (z, x, y): n_visible (observer excluded), vis_hash =
    Σ (cx·8191 + cy) over visible cells, max_vis_d2.

    ENFORCED BOUND: tile_size ≤ 64.  The precomputed T²×T² pair
    matrices are ~(T²)²·8 bytes each — 134 MB at T=64 but ~34 GB at
    the standard 256px tile, and the O(T⁴) pair sweep is equally
    quartic in time — so larger tiles raise immediately instead of
    OOMing mid-job.  For production tile sizes use
    viewshed_sweep_tiles (Van Kreveld O(n² log n)), which is
    equality-pinned against this reference form on shared corpora."""
    import pandas as pd

    T = tile_size
    if T > 64:
        raise ValueError(
            f"viewshed_tiles: tile_size {T} exceeds the R3 brute-force "
            "bound of 64 — the dense (T²)² pair matrices would need "
            f"~{(T * T) ** 2 * 8 / 2 ** 30:.0f} GiB each. Use "
            "viewshed_sweep_tiles for production tile sizes."
        )
    if obs is None:
        obs = (T // 2, T // 2)
    ox, oy = obs

    def gen(it):
        yy, xx = np.mgrid[0:T, 0:T]
        dx = xx - ox
        dy = yy - oy
        p = (dx * dx + dy * dy).astype(np.int64).ravel()  # |t-o|^2
        dxf = dx.ravel().astype(np.int64)
        dyf = dy.ravel().astype(np.int64)
        n = T * T
        # corridor predicate per (target, blocker) pair, elevation-free
        dot = dxf[None, :] * dxf[:, None] + dyf[None, :] * dyf[:, None]
        # cross of (t-o) x (k-o): t indexes axis 0, k axis 1
        cross = dxf[:, None] * dyf[None, :] - dyf[:, None] * dxf[None, :]
        corridor = (
            (dot.T > 0).T
            & (dot < p[:, None])
            & (4 * cross * cross < p[:, None])
        )
        np.fill_diagonal(corridor, False)
        corridor[:, oy * T + ox] = False
        for pdf in it:
            out = {"z": [], "x": [], "y": [], "n_visible": [],
                   "vis_hash": [], "max_vis_d2": []}
            for r in pdf.itertuples():
                rgb = np.frombuffer(r.raster, dtype=np.uint8).reshape(
                    T, T, 3
                )
                e = terrain_rgb_decode(rgb).astype(np.int64).ravel()
                a = e - (e[oy * T + ox] + obs_height)
                # s_k >= s_t with sign-aware squared cross-multiply
                ak = a[None, :]
                at = a[:, None]
                ge = np.where(
                    (ak >= 0) & (at < 0),
                    True,
                    np.where(
                        (ak < 0) & (at >= 0),
                        False,
                        np.where(
                            at >= 0,
                            ak * ak * p[:, None] >= at * at * p[None, :],
                            ak * ak * p[:, None] <= at * at * p[None, :],
                        ),
                    ),
                )
                blocked = (corridor & ge).any(axis=1)
                vis = ~blocked & (p > 0)
                cy2, cx2 = np.divmod(np.flatnonzero(vis), T)
                out["z"].append(int(r.z))
                out["x"].append(int(r.x))
                out["y"].append(int(r.y))
                out["n_visible"].append(int(vis.sum()))
                out["vis_hash"].append(int((cx2 * 8191 + cy2).sum()))
                out["max_vis_d2"].append(
                    int(p[vis].max()) if vis.any() else 0
                )
            yield pd.DataFrame(out)

    return tiles.select("z", "x", "y", "raster").mapInPandas(
        gen,
        "z long, x long, y long, n_visible long, vis_hash long,"
        " max_vis_d2 long",
    )


def viewshed_sweep_tiles(
    tiles: DataFrame,
    tile_size: int,
    obs: tuple[int, int] | None = None,
    obs_height: int = 500,
) -> DataFrame:
    """R18 viewshed — the SCALE refinement of viewshed_tiles,
    EQUALITY-PINNED against it (tests + the q_viewshed_sweep oracle
    reuses q_viewshed's DuckDB twin verbatim): same exact integer
    predicate — corridor membership 4·cross² < |t−o|² with
    0 < (k−o)·(t−o) < |t−o|², sign-aware squared slope compare, ties
    block — but instead of materializing the dense (T²)×(T²) pair
    matrices (O(T⁴) time AND memory; viewshed_tiles raises above
    T=64), each target WALKS its corridor: cells within half a cell
    of the o→t segment lie within ±0.71 of the segment's exact
    rational minor coordinate at each major-axis step, so 4 candidate
    cells per step (filtered by the EXACT predicate, which is what
    makes the pinning sound — false candidates are rejected by the
    same integers the reference form uses) cover the corridor
    completely.  O(T³) pairs total, flat arrays, O(T²·const) memory —
    256px production tiles run in-memory where the reference form
    would need ~34 GiB per matrix.

    Why not a true Van Kreveld angular sweep: the O(n log n) rotating
    sweep evaluates visibility against a CONTINUOUS surface model
    (segments between cell centers), which is a different predicate —
    it could not be equality-oracled against the R3 reference the way
    delta-stepping is oracled against converged relaxation.  The
    corridor walk keeps the R3 predicate bit-for-bit and removes the
    quartic blowup, which is the part that breaks at scale.

    Output schema identical to viewshed_tiles:
    (z, x, y, n_visible, vis_hash, max_vis_d2)."""
    import pandas as pd

    T = tile_size
    if obs is None:
        obs = (T // 2, T // 2)
    ox, oy = obs

    def gen(it):
        yy, xx = np.mgrid[0:T, 0:T]
        dxt = (xx - ox).astype(np.int64).ravel()
        dyt = (yy - oy).astype(np.int64).ravel()
        p = dxt * dxt + dyt * dyt  # |t-o|^2 per target
        # major axis per target: x when |dx| >= |dy| (deterministic)
        adx, ady = np.abs(dxt), np.abs(dyt)
        xmajor = adx >= ady
        m = np.where(xmajor, adx, ady)  # steps along major axis
        # grouped enumeration: one row per (target, s) with s = 0..m
        counts = m + 1
        tgt = np.repeat(np.arange(T * T, dtype=np.int64), counts)
        starts = np.concatenate([[0], np.cumsum(counts)[:-1]])
        s = np.arange(int(counts.sum()), dtype=np.int64) - np.repeat(
            starts, counts
        )
        # exact rational minor coordinate of the segment at step s:
        # minor = o_minor + s*d_minor/m  ->  floor((s*d_minor)//m)
        xm = xmajor[tgt]
        sgn_major = np.sign(np.where(xmajor, dxt, dyt))[tgt]
        d_minor = np.where(xmajor, dyt, dxt)[tgt]
        mm = np.maximum(m[tgt], 1)
        k_major = np.where(xm, ox, oy) + s * sgn_major
        # fraction along the segment is s/m regardless of direction
        fl = np.where(xm, oy, ox) + (s * d_minor) // mm
        # 4 candidate minors cover the ±0.71 band; the exact integer
        # predicate below rejects the false ones
        tgt4 = np.repeat(tgt, 4)
        kmaj4 = np.repeat(k_major, 4)
        kmin4 = np.repeat(fl, 4) + np.tile(
            np.array([-1, 0, 1, 2], dtype=np.int64), len(fl)
        )
        kx4 = np.repeat(np.where(xm, 1, 0), 4)
        kxc = np.where(kx4 == 1, kmaj4, kmin4)
        kyc = np.where(kx4 == 1, kmin4, kmaj4)
        inb = (kxc >= 0) & (kxc < T) & (kyc >= 0) & (kyc < T)
        tgt4, kxc, kyc = tgt4[inb], kxc[inb], kyc[inb]
        dxk = kxc - ox
        dyk = kyc - oy
        dot = dxk * dxt[tgt4] + dyk * dyt[tgt4]
        cross = dxt[tgt4] * dyk - dyt[tgt4] * dxk
        pt = p[tgt4]
        corridor = (dot > 0) & (dot < pt) & (4 * cross * cross < pt)
        tgt4, kxc, kyc = tgt4[corridor], kxc[corridor], kyc[corridor]
        kidx = kyc * T + kxc
        pt = p[tgt4]
        pk = dxk[corridor] * dxk[corridor] + dyk[corridor] * dyk[corridor]
        for pdf in it:
            out = {"z": [], "x": [], "y": [], "n_visible": [],
                   "vis_hash": [], "max_vis_d2": []}
            for r in pdf.itertuples():
                rgb = np.frombuffer(r.raster, dtype=np.uint8).reshape(
                    T, T, 3
                )
                e = terrain_rgb_decode(rgb).astype(np.int64).ravel()
                a = e - (e[oy * T + ox] + obs_height)
                ak = a[kidx]
                at = a[tgt4]
                # s_k >= s_t, sign-aware squared cross-multiply
                ge = np.where(
                    (ak >= 0) & (at < 0),
                    True,
                    np.where(
                        (ak < 0) & (at >= 0),
                        False,
                        np.where(
                            at >= 0,
                            ak * ak * pt >= at * at * pk,
                            ak * ak * pt <= at * at * pk,
                        ),
                    ),
                )
                blocked = np.zeros(T * T, dtype=bool)
                np.logical_or.at(blocked, tgt4[ge], True)
                vis = ~blocked & (p > 0)
                cy2, cx2 = np.divmod(np.flatnonzero(vis), T)
                out["z"].append(int(r.z))
                out["x"].append(int(r.x))
                out["y"].append(int(r.y))
                out["n_visible"].append(int(vis.sum()))
                out["vis_hash"].append(int((cx2 * 8191 + cy2).sum()))
                out["max_vis_d2"].append(
                    int(p[vis].max()) if vis.any() else 0
                )
            yield pd.DataFrame(out)

    return tiles.select("z", "x", "y", "raster").mapInPandas(
        gen,
        "z long, x long, y long, n_visible long, vis_hash long,"
        " max_vis_d2 long",
    )


def sniff_image_dims(images: DataFrame) -> DataFrame:
    """S12 header-only metadata sniff — read (container, width,
    height) from the first bytes of an encoded image WITHOUT decoding
    (what `identify`/PIL.Image.open-lazy/every ingest crawler does
    before deciding to decode): at fleet scale this is the difference
    between a header read and a full decompress per file.

    Parsers are INDEPENDENT header math (not the repo's decoders —
    that independence is what the oracle buys): PNG IHDR big-endian
    dims; JPEG marker walk to SOF0/SOF2; TIFF IFD tags 256/257 in
    either byte order with SHORT/LONG values; WebP VP8L 14-bit packed
    dims.  Unknown containers emit ('unknown', -1, -1).

    Output: (image_id, container, w, h) — one narrow scan."""
    import pandas as pd
    import struct

    def sniff(buf: bytes) -> tuple[str, int, int]:
        if buf[:8] == b"\x89PNG\r\n\x1a\n":
            w, h = struct.unpack(">II", buf[16:24])
            return "png", w, h
        if buf[:2] == b"\xff\xd8":
            i = 2
            while i + 4 <= len(buf):
                if buf[i] != 0xFF:
                    break
                marker = buf[i + 1]
                if marker in (0xC0, 0xC1, 0xC2):
                    h, w = struct.unpack(">HH", buf[i + 5 : i + 9])
                    return "jpeg", w, h
                seg = struct.unpack(">H", buf[i + 2 : i + 4])[0]
                i += 2 + seg
            return "jpeg", -1, -1
        if buf[:4] in (b"II*\x00", b"MM\x00*"):
            bo = "<" if buf[:2] == b"II" else ">"
            off = struct.unpack(bo + "I", buf[4:8])[0]
            n = struct.unpack(bo + "H", buf[off : off + 2])[0]
            w = h = -1
            for k in range(n):
                e = off + 2 + 12 * k
                tag, typ = struct.unpack(bo + "HH", buf[e : e + 4])
                if typ == 3:  # SHORT
                    val = struct.unpack(bo + "H", buf[e + 8 : e + 10])[0]
                else:  # LONG
                    val = struct.unpack(bo + "I", buf[e + 8 : e + 12])[0]
                if tag == 256:
                    w = val
                elif tag == 257:
                    h = val
            return "tiff", w, h
        if buf[:4] == b"RIFF" and buf[8:12] == b"WEBP":
            if buf[12:16] == b"VP8L" and buf[20] == 0x2F:
                bits = struct.unpack("<I", buf[21:25])[0]
                w = (bits & 0x3FFF) + 1
                h = ((bits >> 14) & 0x3FFF) + 1
                return "webp", w, h
            return "webp", -1, -1
        return "unknown", -1, -1

    def gen(it):
        for pdf in it:
            out = {"image_id": [], "container": [], "w": [], "h": []}
            for r in pdf.itertuples():
                c, w, h = sniff(bytes(r.bytes))
                out["image_id"].append(r.image_id)
                out["container"].append(c)
                out["w"].append(w)
                out["h"].append(h)
            yield pd.DataFrame(out)

    return images.select("image_id", "bytes").mapInPandas(
        gen, "image_id string, container string, w long, h long"
    )
