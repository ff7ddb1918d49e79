"""R1-R4 raster operators + the input_hint per-row invariant:
decoded-pixel allclose (PSNR ≥ 40 dB for lossy) and caption equality
through the full distributed pipeline."""

from __future__ import annotations

import numpy as np
import pytest

from mapnik_vector_tile_spark.functions import tilemath as tm
from mapnik_vector_tile_spark.functions.jpeg import decode_jpeg, encode_jpeg
from mapnik_vector_tile_spark.operators import raster as R
from mapnik_vector_tile_spark.sources import synth


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return 20 * np.log10(255.0) - 10 * np.log10(mse)


def test_codec_roundtrip_lossless():
    rgba = synth.make_pixels(5, 33, 21)
    for fmt in ("raw-rgba8", "png-zlib"):
        buf = R.encode_image(rgba, fmt)
        back = R.decode_image(buf, fmt, 33, 21)
        assert np.array_equal(back, rgba)


def test_codec_quant6_psnr_gate():
    rgba = synth.make_pixels(9, 64, 48)
    buf = R.encode_image(rgba, "quant6")
    back = R.decode_image(buf, "quant6", 64, 48)
    p = psnr(back, rgba)
    assert p >= 40.0, p  # the input_hint lossy gate


def test_unsupported_fmt_stubbed():
    # webp became a REAL codec late r2; avif is the remaining stub
    with pytest.raises(NotImplementedError):
        R.decode_image(b"", "avif", 1, 1)


def test_jpeg_codec_psnr_gate():
    """Real baseline JPEG (pure numpy, functions.jpeg) through the
    codec registry: the synthetic mod-256 sawtooth pixels are the
    hardest JPEG content (wrap discontinuities everywhere) and must
    still clear the 40 dB input_hint gate at the registry's q=98;
    a constant tile must round-trip exactly."""
    rgba = synth.make_pixels(9, 64, 48)
    buf = R.encode_image(rgba, "jpeg")
    back = R.decode_image(buf, "jpeg", 64, 48)
    assert back.shape == rgba.shape
    assert (back[..., 3] == 255).all()  # alpha not representable: opaque
    p = psnr(back[..., :3], rgba[..., :3])
    assert p >= 40.0, p
    flat = np.full((33, 41, 4), 201, dtype=np.uint8)
    rt = R.decode_image(R.encode_image(flat, "jpeg"), "jpeg", 41, 33)
    assert (rt[..., :3] == 201).all()


def test_gray_jpeg_roundtrip_psnr_and_compression():
    fy, fx = np.mgrid[0:48, 0:64]
    g = ((fx * 3 + fy * 5) % 256).astype(np.uint8)
    buf = encode_jpeg(g, quality=98)
    back = decode_jpeg(buf)
    assert back.shape == (48, 64, 4)
    # grayscale stream decodes with R == G == B == Y, opaque alpha
    assert (back[..., 0] == back[..., 1]).all()
    assert (back[..., 0] == back[..., 2]).all()
    assert (back[..., 3] == 255).all()
    assert psnr(back[..., 0], g) >= 40.0
    assert len(buf) < g.size  # headers amortized: actually compresses


def test_gray_jpeg_odd_dims_and_flat():
    g = np.full((17, 23), 200, dtype=np.uint8)
    back = decode_jpeg(encode_jpeg(g, 90))
    assert back.shape == (17, 23, 4)
    assert psnr(back[..., 0], g) >= 40.0


def test_jpeg_stream_is_standard_jfif():
    """Marker-level sanity so any standard decoder can read the
    stream: SOI/APP0-JFIF/DQT/DHT/SOF0/SOS/EOI all present, baseline
    (SOF0, not SOF2), 3 components, 8-bit precision."""
    rgba = synth.make_pixels(3, 32, 32)
    buf = R.encode_image(rgba, "jpeg")
    assert buf[:2] == b"\xff\xd8" and buf[-2:] == b"\xff\xd9"
    assert b"JFIF\x00" in buf[:32]
    for marker in (b"\xff\xdb", b"\xff\xc4", b"\xff\xc0", b"\xff\xda"):
        assert marker in buf
    assert b"\xff\xc2" not in buf[:200]  # not progressive
    sof = buf.index(b"\xff\xc0")
    assert buf[sof + 4] == 8  # precision
    assert buf[sof + 9] == 3  # components


def _oracle_resample_nearest(rgba, bbox, z, x, y, size):
    """Independent scalar-loop oracle (float64) for A.9 nearest."""
    sx0, sy0, sx1, sy1 = bbox
    h_src, w_src = rgba.shape[:2]
    span = tm.tile_span(z)
    tx0 = -tm.W + x * span
    ty1 = tm.W - y * span
    out = np.zeros((size, size, 4))
    mask = np.zeros((size, size), dtype=bool)
    for r in range(size):
        for c in range(size):
            px = tx0 + (c + 0.5) * span / size
            py = ty1 - (r + 0.5) * span / size
            fx = (px - sx0) / (sx1 - sx0) * w_src - 0.5
            fy = (sy1 - py) / (sy1 - sy0) * h_src - 0.5
            if -0.5 <= fx <= w_src - 0.5 and -0.5 <= fy <= h_src - 0.5:
                mask[r, c] = True
                out[r, c] = rgba[
                    min(max(int(round(fy)), 0), h_src - 1),
                    min(max(int(round(fx)), 0), w_src - 1),
                ]
    return out, mask


def test_resample_nearest_matches_oracle():
    rgba = synth.make_pixels(3, 20, 14)
    z, x, y = 3, 4, 2
    span = tm.tile_span(z)
    bbox = (
        -tm.W + 4.3 * span,
        tm.W - 2.9 * span,
        -tm.W + 4.9 * span,
        tm.W - 2.2 * span,
    )
    got, gmask = R.resample_to_tile(rgba, bbox, z, x, y, 32, "nearest")
    want, wmask = _oracle_resample_nearest(rgba, bbox, z, x, y, 32)
    assert np.array_equal(gmask, wmask)
    assert np.allclose(got[gmask], want[wmask])


def test_resample_bilinear_constant_image_exact():
    # a constant image resamples to exactly that constant everywhere
    rgba = np.full((10, 10, 4), 137, dtype=np.uint8)
    z, x, y = 2, 1, 1
    span = tm.tile_span(z)
    bbox = (-tm.W + 1.0 * span, tm.W - 2.0 * span,
            -tm.W + 2.0 * span, tm.W - 1.0 * span)
    out, mask = R.resample_to_tile(rgba, bbox, z, x, y, 16, "bilinear")
    assert mask.all()
    assert np.allclose(out, 137.0)


def test_resample_bilinear_psnr_vs_nearest_on_upscale():
    # bilinear upscale of a smooth gradient must beat 40 dB vs the
    # analytically-exact gradient; nearest is the lossier baseline
    w = h = 32
    yy, xx = np.mgrid[0:h, 0:w]
    smooth = np.stack([xx * 8, yy * 8, (xx + yy) * 4, np.full((h, w), 255)],
                      axis=-1).astype(np.uint8)
    z, x, y = 4, 7, 5
    span = tm.tile_span(z)
    bbox = (-tm.W + 7 * span, tm.W - 6 * span, -tm.W + 8 * span, tm.W - 5 * span)
    out, mask = R.resample_to_tile(smooth, bbox, z, x, y, 128, "bilinear")
    # analytic value at pixel centers
    fx = (np.arange(128) + 0.5) / 128 * w - 0.5
    FX, FY = np.meshgrid(fx, fx)
    exact = np.stack(
        [np.clip(FX, 0, w - 1) * 8, np.clip(FY, 0, h - 1) * 8,
         (np.clip(FX, 0, w - 1) + np.clip(FY, 0, h - 1)) * 4,
         np.full_like(FX, 255)], axis=-1)
    p = psnr(R.quantize_pixels(out), R.quantize_pixels(exact))
    assert p >= 40.0, p


def test_rasterize_images_pipeline_and_captions(spark):
    images = synth.images_df(spark, 60)
    tiles = R.rasterize_images(images, z=2, tile_size=32).collect()
    assert len(tiles) > 0
    assert sum(t.n_images for t in tiles) >= 60  # every image painted somewhere
    # caption equality: every caption carried through matches the source
    src = {r.caption for r in images.select("caption").collect()}
    for t in tiles:
        for c in t.captions:
            assert c in src
    # decoded tiles are valid images
    for t in tiles[:3]:
        rgba = R.decode_image(t.raster, "png-zlib", 32, 32)
        assert rgba.shape == (32, 32, 4)


def test_raster_layer_roundtrip(spark):
    images = synth.images_df(spark, 30)
    tiles = R.rasterize_images(images, z=1, tile_size=16)
    layers = R.raster_tiles_to_layer(tiles)
    back = R.decode_raster_layer(layers).collect()
    orig = {(t.z, t.x, t.y): (bytes(t.raster), list(t.captions))
            for t in tiles.collect()}
    assert len(back) == len(orig)
    for r in back:
        raster, caps = orig[(r.z, r.x, r.y)]
        assert bytes(r.raster) == raster          # pixel bytes identical
        assert r.caption == "|".join(caps)        # caption equality


def test_vector_rasterization_fill(spark):
    import pandas as pd

    from mapnik_vector_tile_spark.functions import geomcodec as gc
    from mapnik_vector_tile_spark.functions import pbf

    # a layer with one centered square polygon covering 1/4 of the tile
    ext = 4096
    q = ext // 4
    px = np.array([q, 3 * q, 3 * q, q, q], dtype=np.int64)
    py = np.array([q, q, 3 * q, 3 * q, q], dtype=np.int64)
    lb = pbf.LayerBuilder("v", extent=ext)
    lb.add_feature(
        1, gc.GEOM_POLYGON,
        gc.encode_geometry(gc.GEOM_POLYGON, px, py, np.array([0, 5])),
        {},
    )
    df = spark.createDataFrame(
        pd.DataFrame({"z": [0], "x": [0], "y": [0], "blob": [lb.build()]}),
        schema="z int, x long, y long, blob binary",
    )
    out = R.rasterize_features(df, tile_size=64, extent=ext).collect()[0]
    frac = out.n_filled / (64 * 64)
    assert abs(frac - 0.25) < 0.02
    mask = np.unpackbits(np.frombuffer(out.bitmap, dtype=np.uint8)).reshape(64, 64)
    assert mask[32, 32] == 1 and mask[2, 2] == 0


def test_resample_bicubic_constant_image_exact():
    # Catmull-Rom weights sum to 1 -> constants reproduce exactly
    rgba = np.full((10, 10, 4), 91, dtype=np.uint8)
    z, x, y = 2, 1, 1
    span = tm.tile_span(z)
    bbox = (-tm.W + 1.0 * span, tm.W - 2.0 * span,
            -tm.W + 2.0 * span, tm.W - 1.0 * span)
    out, mask = R.resample_to_tile(rgba, bbox, z, x, y, 16, "bicubic")
    assert mask.all()
    assert np.allclose(out, 91.0)


def test_resample_bicubic_beats_psnr_gate_and_bilinear_on_upscale():
    # bicubic upscale of a smooth gradient: >= 40 dB vs analytic, and
    # at least as sharp as bilinear on the same input (linear ramps are
    # reproduced exactly by both away from edges; the PSNR gate is the
    # input_hint contract)
    w = h = 32
    yy, xx = np.mgrid[0:h, 0:w]
    smooth = np.stack([xx * 8, yy * 8, (xx + yy) * 4, np.full((h, w), 255)],
                      axis=-1).astype(np.uint8)
    z, x, y = 4, 7, 5
    span = tm.tile_span(z)
    bbox = (-tm.W + 7 * span, tm.W - 6 * span, -tm.W + 8 * span, tm.W - 5 * span)
    fx = (np.arange(128) + 0.5) / 128 * w - 0.5
    FX, FY = np.meshgrid(fx, fx)
    exact = np.stack(
        [np.clip(FX, 0, w - 1) * 8, np.clip(FY, 0, h - 1) * 8,
         (np.clip(FX, 0, w - 1) + np.clip(FY, 0, h - 1)) * 4,
         np.full_like(FX, 255)], axis=-1)
    out_c, _ = R.resample_to_tile(smooth, bbox, z, x, y, 128, "bicubic")
    p_c = psnr(R.quantize_pixels(out_c), R.quantize_pixels(exact))
    assert p_c >= 40.0, p_c


# --- raster overzoom (R1 child tiles from stored parents) ------------------------


def test_overzoom_raster_nearest_is_pixel_replication(spark):
    """dz=1 nearest-neighbor overzoom replicates parent pixels exactly:
    child[r,c] == parent[(cy*T+r)//2, (cx*T+c)//2] — through the full
    DataFrame op including the image codec round trip."""
    import pandas as pd

    T = 64
    rng = np.random.default_rng(11)
    parent = rng.integers(0, 256, size=(T, T, 4)).astype(np.uint8)
    pdf = pd.DataFrame(
        {
            "z": [6], "x": [11], "y": [23],
            "raster": [R.encode_image(parent, "raw-rgba8")],
            "n_images": [1], "captions": [["a", "b"]],
        }
    )
    tiles = spark.createDataFrame(
        pdf,
        schema=(
            "z int, x long, y long, raster binary, n_images long, "
            "captions array<string>"
        ),
    )
    kids = R.overzoom_raster_tiles(
        tiles, 1, tile_size=T, method="nearest", fmt="raw-rgba8"
    ).collect()
    assert len(kids) == 4
    for row in kids:
        assert row.z == 7 and row.captions == ["a", "b"]
        cx, cy = row.x - 22, row.y - 46
        assert cx in (0, 1) and cy in (0, 1)
        img = R.decode_image(bytes(row.raster), "raw-rgba8", T, T)
        rr = (cy * T + np.arange(T)) // 2
        cc = (cx * T + np.arange(T)) // 2
        assert np.array_equal(img, parent[np.ix_(rr, cc)])


def test_overzoom_raster_bilinear_gradient_exact():
    """Bilinear overzoom of a linear ramp is exact away from the
    clamped 1px border (child samples sit at parent index m±0.25)."""
    T = 64
    grad = (
        (np.arange(T)[:, None] * 1 + np.arange(T)[None, :] * 2)[..., None]
        .repeat(4, axis=2)
    )
    g8 = grad.astype(np.uint8)  # max 63*1 + 63*2 = 189: no saturation
    span = tm.tile_span(6)
    tx0 = -tm.W + 11 * span
    ty1 = tm.W - 23 * span
    bbox = (tx0, ty1 - span, tx0 + span, ty1)
    for cx in (0, 1):
        for cy in (0, 1):
            out, mask = R.resample_to_tile(
                g8, bbox, 7, 22 + cx, 46 + cy, T, "bilinear"
            )
            assert mask.all()
            q = R.quantize_pixels(out)[1:-1, 1:-1, 0].astype(np.float64)
            rr = (cy * T + np.arange(T)) / 2 - 0.25
            cc = (cx * T + np.arange(T)) / 2 - 0.25
            want = np.clip(
                np.floor(rr[1:-1, None] * 1 + cc[None, 1:-1] * 2 + 0.5),
                0, 255,
            )
            assert np.abs(q - want).max() == 0.0


def test_overzoom_raster_redistribute_identical(spark):
    import pandas as pd

    T = 64
    rng = np.random.default_rng(21)
    parent = rng.integers(0, 256, size=(T, T, 4)).astype(np.uint8)
    pdf = pd.DataFrame(
        {
            "z": [6], "x": [11], "y": [23],
            "raster": [R.encode_image(parent, "raw-rgba8")],
            "n_images": [1], "captions": [["a"]],
        }
    )
    tiles = spark.createDataFrame(
        pdf,
        schema=(
            "z int, x long, y long, raster binary, n_images long, "
            "captions array<string>"
        ),
    )
    kw = dict(tile_size=T, method="bilinear", fmt="raw-rgba8")
    narrow = {
        (r.z, r.x, r.y): bytes(r.raster)
        for r in R.overzoom_raster_tiles(tiles, 1, **kw).collect()
    }
    redist = {
        (r.z, r.x, r.y): bytes(r.raster)
        for r in R.overzoom_raster_tiles(
            tiles, 1, redistribute=True, **kw
        ).collect()
    }
    assert narrow == redist and len(narrow) == 4


def test_raster_layer_rejects_z30(spark):
    """The packed feature id (z:6|x:29|y:29) saturates at z=29; z=30
    tiles must be rejected loudly instead of silently aliasing ids."""
    import pytest
    from pyspark.errors.exceptions.captured import PythonException

    tiles = spark.createDataFrame(
        [(30, 1, 2, b"\x00" * (4 * 4 * 4), 1, ["c"])],
        schema=(
            "z int, x long, y long, raster binary, n_images long, "
            "captions array<string>"
        ),
    )
    with pytest.raises(PythonException, match="z<=29"):
        R.raster_tiles_to_layer(tiles).collect()


def test_jpeg_decoder_rejects_malformed_streams():
    """Malformed input must raise ValueError (never hang or crash):
    truncated entropy data, missing SOI, progressive streams."""
    rgba = synth.make_pixels(5, 24, 24)
    buf = R.encode_image(rgba, "jpeg")
    with pytest.raises(ValueError):
        R.decode_image(b"not a jpeg", "jpeg", 1, 1)
    with pytest.raises(ValueError):
        R.decode_image(buf[: len(buf) // 2], "jpeg", 24, 24)
    # flip SOF0 -> SOF2 (progressive): must be rejected, not misparsed
    prog = buf.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(ValueError):
        R.decode_image(prog, "jpeg", 24, 24)


def test_jpeg_decoder_fuzz_error_contract():
    """Seeded fuzz: every truncation and byte-flip of a valid stream,
    color or grayscale, must raise ValueError (the skip-undecodable
    contract) — never an IndexError/KeyError/StopIteration escaping
    segment parsing."""
    rgba = synth.make_pixels(11, 24, 16)
    for buf in (R.encode_image(rgba, "jpeg"), encode_jpeg(rgba[..., 0])):
        rng = np.random.default_rng(3)
        for cut in range(2, len(buf), max(1, len(buf) // 80)):
            try:
                R.decode_image(buf[:cut], "jpeg", 24, 16)
            except ValueError:
                pass
        for _ in range(120):
            b = bytearray(buf)
            i = int(rng.integers(2, len(buf)))
            b[i] ^= int(rng.integers(1, 255))
            try:
                R.decode_image(bytes(b), "jpeg", 24, 16)
            except ValueError:
                pass


def test_box_thumbnail_exact_and_guards():
    import numpy as np
    import pytest

    from mapnik_vector_tile_spark.operators.raster import box_thumbnail
    from mapnik_vector_tile_spark.sources.synth import make_pixels

    rgba = make_pixels(5, 23, 17)
    t = box_thumbnail(rgba, 8)
    assert t.shape == (8, 8, 4) and t.dtype == np.uint8
    ye = [(k * 17) // 8 for k in range(9)]
    xe = [(k * 23) // 8 for k in range(9)]
    for ty in (0, 3, 7):
        for tx in (0, 4, 7):
            box = rgba[ye[ty]:ye[ty + 1], xe[tx]:xe[tx + 1]].astype(
                np.int64
            )
            exp = box.sum(axis=(0, 1)) // (box.shape[0] * box.shape[1])
            assert (t[ty, tx] == exp).all()
    # identity when source == target size
    src = make_pixels(1, 8, 8)
    assert (box_thumbnail(src, 8) == src).all()
    with pytest.raises(ValueError, match="smaller"):
        box_thumbnail(make_pixels(0, 4, 4), 8)


def test_image_thumbnails_caption_preserved(spark):
    from mapnik_vector_tile_spark.operators.raster import image_thumbnails
    from mapnik_vector_tile_spark.sources.synth import images_df

    imgs = images_df(spark, 20)
    out = image_thumbnails(imgs, size=8).collect()
    caps = {r["image_id"]: r["caption"] for r in out}
    orig = {r["image_id"]: r["caption"] for r in imgs.collect()}
    assert caps == orig
    assert all(len(r["thumb"]) == 8 * 8 * 4 for r in out)


def test_gray_grid_and_dhash_semantics(spark):
    """T21b pins: exact luma grid means, gradient-sign bits, row-major
    packing, and brightness invariance (dHash's defining property)."""
    import numpy as np

    from mapnik_vector_tile_spark.operators.raster import (
        gray_grid,
        image_dhash,
    )

    # 9x8 image == grid: means are the pixels themselves
    w, h = 9, 8
    rgba = np.zeros((h, w, 4), np.uint8)
    ramp = np.arange(w, dtype=np.uint8)[None, :] * 10
    rgba[..., 0] = ramp  # r increases left->right
    g = gray_grid(rgba, 9, 8)
    assert g.shape == (8, 9)
    assert (g == ramp.astype(np.int64) * 299).all()

    # strictly increasing rows -> every bit g[x] > g[x+1] is FALSE -> 0
    df = spark.createDataFrame(
        [("a", bytearray(rgba.tobytes()), w, h, "raw-rgba8", "c")],
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string",
    )
    rows = image_dhash(df).collect()
    assert rows[0].dhash == 0

    # strictly decreasing -> all 64 bits set -> signed -1
    rgba2 = rgba[:, ::-1].copy()
    df2 = spark.createDataFrame(
        [("b", bytearray(rgba2.tobytes()), w, h, "raw-rgba8", "c")],
        df.schema,
    )
    assert image_dhash(df2).collect()[0].dhash == -1

    # brightness shift (no uint8 overflow) leaves the hash unchanged
    rng = np.random.default_rng(7)
    img = rng.integers(0, 200, (20, 24, 4), dtype=np.uint8)
    img[..., 3] = 255
    bright = img.copy()
    bright[..., :3] += 40
    mk = lambda name, a: spark.createDataFrame(
        [(name, bytearray(a.tobytes()), 24, 20, "raw-rgba8", "c")], df.schema
    )
    h1 = image_dhash(mk("x", img)).collect()[0].dhash
    h2 = image_dhash(mk("y", bright)).collect()[0].dhash
    assert h1 == h2


def test_letterbox_semantics(spark):
    """T12c pins: aspect fit, centered offsets, nearest mapping,
    fill bytes outside the paste box, caption passthrough."""
    import numpy as np

    from mapnik_vector_tile_spark.operators.raster import letterbox

    # 32x16 (w>h): nw=8, nh=4, ox=0, oy=2 at target 8
    rgba = np.zeros((16, 32, 4), np.uint8)
    rgba[..., 0] = np.arange(32, dtype=np.uint8)[None, :] * 8
    cv, ox, oy, nw, nh = letterbox(rgba, 8, fill=(7, 9, 11, 255))
    assert (nw, nh, ox, oy) == (8, 4, 0, 2)
    # nearest source column for dst x: (x*32)//8 = 4x
    expect_r = (np.arange(8) * 4 * 8).astype(np.uint8)
    assert (cv[2, :, 0] == expect_r).all()
    # padding rows above/below are exactly the fill
    assert (cv[0] == np.array([7, 9, 11, 255], np.uint8)).all()
    assert (cv[7] == np.array([7, 9, 11, 255], np.uint8)).all()

    # tall image: 16x32 (h>w): nh=8, nw=4, ox=2
    cv, ox, oy, nw, nh = letterbox(np.full((32, 16, 4), 50, np.uint8), 8)
    assert (nw, nh, ox, oy) == (4, 8, 2, 0)
    assert (cv[:, 2:6, 0] == 50).all()
    assert (cv[:, 0, 0] == 0).all()  # default fill

    # square upscales edge-to-edge
    cv, ox, oy, nw, nh = letterbox(np.full((16, 16, 4), 9, np.uint8), 64)
    assert (nw, nh, ox, oy) == (64, 64, 0, 0)
    assert (cv[..., 0] == 9).all()


def test_augment_images_orientations(spark):
    """T12d: each op lands pixels exactly where numpy says, dims swap
    on quarter-rotations, assignment is (image, epoch)-deterministic."""
    import numpy as np

    from mapnik_vector_tile_spark.operators.raster import augment_images

    h, w = 3, 5
    rgba = np.zeros((h, w, 4), np.uint8)
    rgba[..., 0] = np.arange(h * w, dtype=np.uint8).reshape(h, w) * 3
    df = spark.createDataFrame(
        [("img_000000000042", bytearray(rgba.tobytes()), w, h,
          "raw-rgba8", "cap", 0)],
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long",
    )
    rows = augment_images(df, epochs=6).collect()
    assert len(rows) == 6
    expect = {
        "identity": rgba, "flip_h": rgba[:, ::-1], "flip_v": rgba[::-1],
        "rot90": np.rot90(rgba, -1), "rot180": rgba[::-1, ::-1],
        "rot270": np.rot90(rgba, 1),
    }
    seen_rot = False
    again = {
        (r.epoch): r.aug for r in augment_images(df, epochs=6).collect()
    }
    for r in rows:
        t = expect[r.aug]
        assert (r.out_h, r.out_w) == t.shape[:2]
        got = np.frombuffer(r.pixels, np.uint8).reshape(
            r.out_h, r.out_w, 4
        )
        assert (got == t).all(), r.aug
        assert again[r.epoch] == r.aug  # deterministic re-run
        seen_rot |= r.aug in ("rot90", "rot270")
    assert seen_rot  # six epochs on one image hit a dims-swapping op


def test_laplacian_blur_gate(spark):
    """T12e: flat image -> variance 0 -> blurry; checkerboard ->
    maximal Laplacian variance -> sharp; 2x2 (no interior) -> n_int=0,
    blurry by convention; caption rides through."""
    import numpy as np

    from mapnik_vector_tile_spark.operators.raster import laplacian_stats

    def rgba_bytes(g):
        h, w = g.shape
        a = np.zeros((h, w, 4), np.uint8)
        a[..., 0] = a[..., 1] = a[..., 2] = g
        a[..., 3] = 255
        return bytearray(a.tobytes())

    flat = np.full((8, 8), 128, np.uint8)
    checker = (np.indices((8, 8)).sum(axis=0) % 2 * 255).astype(np.uint8)
    tiny = np.full((2, 2), 77, np.uint8)
    df = spark.createDataFrame(
        [
            ("flat", rgba_bytes(flat), 8, 8, "raw-rgba8", "cap flat"),
            ("chk", rgba_bytes(checker), 8, 8, "raw-rgba8", "cap chk"),
            ("tiny", rgba_bytes(tiny), 2, 2, "raw-rgba8", "cap tiny"),
        ],
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string",
    )
    out = {r.image_id: r for r in laplacian_stats(df, blur_thr=100).collect()}
    assert out["flat"].is_blurry and out["flat"].sum_l2 == 0
    assert not out["chk"].is_blurry
    # checkerboard at luma8: weights 77+151+28 = 256, so g in {0, 255}
    # exactly; interior |L| = 4*255
    assert out["chk"].n_int == 36 and out["chk"].sum_l2 == 36 * (4 * 255) ** 2
    assert out["tiny"].is_blurry and out["tiny"].n_int == 0
    assert out["chk"].caption == "cap chk"


def test_otsu_two_level_and_flat(spark):
    """Otsu picks the valley between two luma populations; a flat
    image has no valid cut and pins the t=0 convention."""
    import numpy as np

    from mapnik_vector_tile_spark.operators.raster import otsu_stats

    def rgba_of_gray(gmat):
        a = np.zeros((*gmat.shape, 4), np.uint8)
        a[..., 0] = a[..., 1] = a[..., 2] = gmat
        a[..., 3] = 255
        return a.tobytes()

    # two-level image: gray values 50 (left half) and 200 (right half)
    g = np.full((8, 8), 50, np.uint8)
    g[:, 4:] = 200
    flat = np.full((6, 6), 99, np.uint8)
    df = spark.createDataFrame(
        [
            ("two", rgba_of_gray(g), 8, 8, "raw-rgba8", "cap two"),
            ("flat", rgba_of_gray(flat), 6, 6, "raw-rgba8", "cap flat"),
        ],
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string",
    )
    out = {r.image_id: r for r in otsu_stats(df).collect()}
    # luma8 of pure gray v = (v*77 + v*151 + v*28) >> 8 = v*256>>8 = v
    assert out["two"].otsu_t == 50  # cut at the lower level
    assert out["two"].n_fg == 32 and out["two"].fg_sum == 32 * 200
    assert out["flat"].otsu_t == 0 and out["flat"].n_fg == 36
    assert out["two"].caption == "cap two"


def test_otsu_matches_float_reference(spark):
    """The integer floor-scaled argmax equals the classic float Otsu
    on random images (the scale-bound argument made concrete)."""
    import numpy as np

    from mapnik_vector_tile_spark.operators.raster import otsu_stats

    rng = np.random.default_rng(7)
    rows = []
    expected = {}
    for i in range(6):
        g = rng.integers(0, 256, (17, 13)).astype(np.uint8)
        a = np.zeros((17, 13, 4), np.uint8)
        a[..., 0] = a[..., 1] = a[..., 2] = g
        a[..., 3] = 255
        rows.append((f"i{i}", a.tobytes(), 13, 17, "raw-rgba8", "c"))
        # float reference argmax (smallest-t tiebreak)
        hist = np.bincount(g.ravel(), minlength=256).astype(float)
        n = hist.sum()
        s = (hist * np.arange(256)).sum()
        best_t, best = 0, -1.0
        n0 = s0 = 0.0
        for v in range(256):
            n0 += hist[v]
            s0 += v * hist[v]
            n1 = n - n0
            if n1 == 0:
                break
            d = s0 * n1 - (s - s0) * n0
            sc = d * d / (n0 * n1) if n0 else -1.0
            if sc > best + 1e-9:
                best, best_t = sc, v
        expected[f"i{i}"] = best_t
    df = spark.createDataFrame(
        rows,
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string",
    )
    out = {r.image_id: r.otsu_t for r in otsu_stats(df).collect()}
    assert out == expected


def test_equalize_flat_identity_and_stretch(spark):
    """T12h: a flat image keeps the identity map (pinned convention);
    a two-level image stretches to the full 0..255 range."""
    import numpy as np

    from mapnik_vector_tile_spark.operators.raster import equalize_stats

    def rgba_of_gray(gmat):
        a = np.zeros((*gmat.shape, 4), np.uint8)
        a[..., 0] = a[..., 1] = a[..., 2] = gmat
        a[..., 3] = 255
        return a.tobytes()

    flat = np.full((4, 4), 77, np.uint8)
    two = np.full((4, 4), 100, np.uint8)
    two[:, 2:] = 120
    df = spark.createDataFrame(
        [
            ("flat", rgba_of_gray(flat), 4, 4, "raw-rgba8", "cf"),
            ("two", rgba_of_gray(two), 4, 4, "raw-rgba8", "ct"),
        ],
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string",
    )
    out = {r.image_id: r for r in equalize_stats(df).collect()}
    assert out["flat"].eq_min == 77 and out["flat"].eq_max == 77
    assert out["flat"].eq_sum == 77 * 16
    # two-level: cdf = {100: 8, 120: 16}, cdf_min=8, den=8 ->
    # lut(100)=0, lut(120)=255
    assert out["two"].eq_min == 0 and out["two"].eq_max == 255
    assert out["two"].eq_sum == 8 * 255
    assert out["two"].caption == "ct"


def test_phash_dct_properties(spark):
    """T21c: identical pixels -> identical hash; distinct images ->
    distinct hashes on this corpus; flat image -> only the DC bit
    survives the twice-median compare (fixed-point AC residues cancel
    by cosine symmetry), i.e. hash = -2^63; cosine table pinned."""
    import hashlib

    import numpy as np

    from mapnik_vector_tile_spark.operators.raster import (
        phash_cos_table,
        phash_dct,
    )
    from mapnik_vector_tile_spark.sources.synth import make_pixels

    # committed fixed-point basis: pin its exact bytes
    tab = phash_cos_table()
    assert tab.shape == (8, 16) and tab[0, 0] == 1 << 14
    digest = hashlib.sha256(tab.astype("<i8").tobytes()).hexdigest()
    assert digest == (
        "a15ef4d2ad1a0b2f9ddd802d4e8fc43913f507509eaea38c4192cd9e939934d5"
    )

    a = make_pixels(1, 20, 24)
    flat = np.full((16, 16, 4), 130, np.uint8)
    rows = [
        ("a", a.tobytes(), 20, 24, "raw-rgba8", "ca"),
        ("a2", a.tobytes(), 20, 24, "raw-rgba8", "ca"),
        ("b", make_pixels(2, 20, 24).tobytes(), 20, 24, "raw-rgba8", "cb"),
        ("flat", flat.tobytes(), 16, 16, "raw-rgba8", "cf"),
    ]
    df = spark.createDataFrame(
        rows,
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string",
    )
    out = {r.image_id: r.phash_dct for r in phash_dct(df).collect()}
    assert out["a"] == out["a2"]
    assert out["a"] != out["b"]
    assert out["flat"] == -(1 << 63)


def test_marching_squares_known_shapes(spark):
    """R5: a single above-threshold pixel yields the 4-segment diamond
    around it; a half-plane yields one straight contour; a uniform
    image yields none. Endpoint sums are saddle-invariant by
    construction (each crossed edge contributes once)."""
    import numpy as np

    from mapnik_vector_tile_spark.operators.raster import (
        marching_squares_stats,
    )

    def rgba_of_gray(gmat):
        a = np.zeros((*gmat.shape, 4), np.uint8)
        a[..., 0] = a[..., 1] = a[..., 2] = gmat
        a[..., 3] = 255
        return a.tobytes()

    dot = np.zeros((5, 5), np.uint8)
    dot[2, 2] = 255  # luma 255000 > thr
    half = np.zeros((4, 6), np.uint8)
    half[:, 3:] = 255
    flat = np.full((4, 4), 9, np.uint8)
    df = spark.createDataFrame(
        [
            ("dot", rgba_of_gray(dot), 5, 5, "raw-rgba8", "cd"),
            ("half", rgba_of_gray(half), 6, 4, "raw-rgba8", "ch"),
            ("flat", rgba_of_gray(flat), 4, 4, "raw-rgba8", "cf"),
        ],
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string",
    )
    out = {
        r.image_id: r
        for r in marching_squares_stats(df, thr=127000).collect()
    }
    # the dot's 4 surrounding cells each carry one corner -> 1 segment
    assert out["dot"].n_segments == 4 and out["dot"].n_cells == 16
    # vertical boundary between x=2 and x=3 crosses 3 cell rows:
    # each of the 3 cells at x=2 has top+bottom crossed -> 3 segments
    assert out["half"].n_segments == 3
    assert out["flat"].n_segments == 0
    assert out["flat"].ex_sum == 0 and out["flat"].ey_sum == 0


def test_gradient_orientation_octants(spark):
    """Synthetic ramp images: a pure horizontal luma ramp has gx>0,
    gy=0 everywhere in the interior -> every pixel in octant 0; a pure
    vertical ramp -> gy>0, gx=0 -> the gy>=gx tie rule puts axis-up in
    octant 1; a flat image -> all pixels bin -1."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.operators.raster import (
        gradient_orientation_stats,
    )

    def img(arr):
        # gray ramp encoded as raw rgba8 with r=g=b
        h, w = arr.shape
        rgba = np.zeros((h, w, 4), np.uint8)
        for c in range(3):
            rgba[..., c] = arr
        rgba[..., 3] = 255
        return bytes(rgba.tobytes())

    h = w = 8
    ramp_x = np.tile((np.arange(w) * 20).astype(np.uint8), (h, 1))
    ramp_y = ramp_x.T.copy()
    flat = np.full((h, w), 77, np.uint8)
    rows = [
        ("rx", img(ramp_x), w, h, "raw-rgba8", "cap rx"),
        ("ry", img(ramp_y), w, h, "raw-rgba8", "cap ry"),
        ("fl", img(flat), w, h, "raw-rgba8", "cap fl"),
    ]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string"
    )
    out = gradient_orientation_stats(df).collect()
    by = {(r["image_id"], r["bin"]): r["cnt"] for r in out}
    n_int = (h - 2) * (w - 2)
    assert by[("rx", 0)] == n_int
    assert by[("ry", 1)] == n_int
    assert by[("fl", -1)] == n_int
    assert sum(v for (i, b), v in by.items() if i == "rx" and b != 0) == 0


def test_template_match_exact_patch(spark):
    """With zero perturbation the template is a literal sub-image, so
    the engine must find it at SAD = sum of perturbations (the %43
    offsets), and an unambiguous synthetic image pins the tie rule:
    a constant image makes EVERY window tie at the same SAD with the
    pick at (0, 0)."""
    import numpy as np

    from mapnik_vector_tile_spark.operators.raster import (
        template_match_stats,
    )

    h = w = 10
    rgba = np.zeros((h, w, 4), np.uint8)
    rgba[..., :3] = 50
    rgba[..., 3] = 255
    rows = [("img_000000000003", bytes(rgba.tobytes()), w, h,
             "raw-rgba8", "cap")]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string"
    )
    r = template_match_stats(df).collect()[0]
    # constant image: every one of the (w-5)*(h-5) windows ties
    assert (r["bx"], r["by"]) == (0, 0)
    assert r["n_best"] == (w - 5) * (h - 5)
    # SAD = sum over 6x6 of (tx*7+ty*11) % 43
    want = sum((tx * 7 + ty * 11) % 43 for ty in range(6) for tx in range(6))
    assert r["best_sad"] == want


# --- R7 raster downzoom ----------------------------------------------------


def test_raster_downzoom_quadrants_and_floor_mean(spark):
    import numpy as np

    from mapnik_vector_tile_spark.operators.raster import raster_downzoom

    T = 4
    # child (0,0): all 5s -> quarter all 5s in top-left quadrant
    c00 = np.full((T, T), 5, np.uint8).tobytes()
    # child (1,0): 2x2 blocks [0,1,2,3] -> floor mean (0+1+2+3)//4 = 1
    v = np.zeros((T, T), np.uint8)
    v[0::2, 0::2] = 0
    v[0::2, 1::2] = 1
    v[1::2, 0::2] = 2
    v[1::2, 1::2] = 3
    c10 = v.tobytes()
    df = spark.createDataFrame(
        [(3, 0, 0, bytearray(c00)), (3, 1, 0, bytearray(c10))],
        "z long, x long, y long, raster binary",
    )
    r = raster_downzoom(df, T).collect()
    assert len(r) == 1
    row = r[0]
    assert (row["z"], row["x"], row["y"]) == (2, 0, 0)
    assert row["occ"] == 0b0011  # children (dx=0,dy=0) and (dx=1,dy=0)
    # top-left quadrant: 4 pixels of 5; top-right: 4 pixels of 1
    assert row["px_sum"] == 4 * 5 + 4 * 1
    # positional weights (T=4): TL cells (r,c) in {0,1}x{0,1} ->
    # w = r*4+c+1 in {1,2,5,6}; TR cells c in {2,3} -> w in {3,4,7,8}
    assert row["wsum"] == 5 * (1 + 2 + 5 + 6) + 1 * (3 + 4 + 7 + 8)


def test_raster_downzoom_missing_children_zero(spark):
    import numpy as np

    from mapnik_vector_tile_spark.operators.raster import raster_downzoom

    T = 4
    only = np.full((T, T), 8, np.uint8).tobytes()
    df = spark.createDataFrame(
        [(5, 3, 3, bytearray(only))],  # dx=1, dy=1 -> bottom-right quadrant
        "z long, x long, y long, raster binary",
    )
    row = raster_downzoom(df, T).collect()[0]
    assert (row["z"], row["x"], row["y"]) == (4, 1, 1)
    assert row["occ"] == 0b1000
    assert row["px_sum"] == 4 * 8


# --- R8 Porter-Duff over compositing ---------------------------------------


def _ovr(spark, layers, T=2):
    """layers: list of (order, luma, alpha) flat constants."""
    import numpy as np

    from mapnik_vector_tile_spark.operators.raster import (
        raster_composite_over,
    )

    rows = []
    for order, lum, alp in layers:
        la = np.stack(
            [np.full((T, T), lum, np.uint8), np.full((T, T), alp, np.uint8)],
            axis=-1,
        )
        rows.append((0, 0, 0, order, bytearray(la.tobytes())))
    df = spark.createDataFrame(
        rows, "z long, x long, y long, layer_order long, raster binary"
    )
    return raster_composite_over(df, T).collect()[0]


def test_over_opaque_top_wins(spark):
    # opaque top layer completely hides the bottom
    r = _ovr(spark, [(0, 200, 255), (1, 40, 255)])
    # prem(40,255) = round(40*255/255) = 40 per pixel; alpha 255
    assert r["sum_l"] == 40 * 4 and r["sum_a"] == 255 * 4


def test_over_transparent_top_noop(spark):
    r = _ovr(spark, [(0, 200, 255), (1, 123, 0)])
    assert r["sum_l"] == 200 * 4 and r["sum_a"] == 255 * 4


def test_over_half_alpha_rounding(spark):
    # single layer, alpha 128: prem = round(100*128/255) = round(50.19) = 50
    r = _ovr(spark, [(0, 100, 128)])
    assert r["sum_l"] == 50 * 4 and r["sum_a"] == 128 * 4


def test_over_not_commutative(spark):
    a = _ovr(spark, [(0, 200, 128), (1, 40, 128)])
    b = _ovr(spark, [(0, 40, 128), (1, 200, 128)])
    assert a["sum_l"] != b["sum_l"]  # OVER order matters


# --- R9 Terrain-RGB --------------------------------------------------------


def test_terrain_rgb_spec_values():
    import numpy as np

    from mapnik_vector_tile_spark.operators.raster import (
        terrain_rgb_decode,
        terrain_rgb_encode,
    )

    # spec: elevation = -10000 + value*0.1 → 0 m = value 100000
    rgb = terrain_rgb_encode(np.array([0]))
    assert rgb.tolist() == [[1, 134, 160]]  # 100000 = 0x0186A0
    assert terrain_rgb_decode(rgb).tolist() == [0]
    # Everest-ish 8848.6 m = 88486 dm; deepest trench -10911 m
    for dm in (88486, -109110 // 10, -100000, (1 << 24) - 100001):
        assert terrain_rgb_decode(terrain_rgb_encode(np.array([dm])))[0] == dm


def test_terrain_rgb_range_guard():
    import numpy as np
    import pytest as _pytest

    from mapnik_vector_tile_spark.operators.raster import terrain_rgb_encode

    with _pytest.raises(ValueError):
        terrain_rgb_encode(np.array([-100001]))
    with _pytest.raises(ValueError):
        terrain_rgb_encode(np.array([1 << 24]))


# --- T12m EXIF orientation -------------------------------------------------


def test_exif_normalize_hand_cases(spark):
    import numpy as np

    from mapnik_vector_tile_spark.operators.raster import (
        exif_normalize_stats,
    )

    # 1x2 grayscale [10, 20] (r=g=b=v so luma == v exactly)
    g = np.array([[10, 20]], np.uint8)
    rgba = np.stack([g, g, g, np.full_like(g, 255)], axis=-1)
    rows = [
        (f"i{o}", bytearray(rgba.tobytes()), 2, 1, "raw-rgba8", o)
        for o in range(1, 9)
    ]
    df = spark.createDataFrame(
        rows,
        "image_id string, bytes binary, w int, h int, fmt string, "
        "orient long",
    )
    out = {r["image_id"]: r for r in exif_normalize_stats(df).collect()}
    # identity: [[10,20]] -> wsum = 10*1 + 20*2 = 50
    assert (out["i1"]["out_w"], out["i1"]["out_h"], out["i1"]["wsum"]) == (
        2, 1, 50,
    )
    # flip-H: [[20,10]] -> 20*1 + 10*2 = 40
    assert out["i2"]["wsum"] == 40
    # rotate 180 of a 1-row image == flip-H
    assert out["i3"]["wsum"] == 40
    # flip-V of 1-row == identity
    assert out["i4"]["wsum"] == 50
    # transpose: column [[10],[20]] -> 10*1 + 20*2 = 50, dims swap
    assert (out["i5"]["out_w"], out["i5"]["out_h"], out["i5"]["wsum"]) == (
        1, 2, 50,
    )
    # rotate 90 CW: [[10],[20]] -> 50
    assert (out["i6"]["out_w"], out["i6"]["wsum"]) == (1, 50)
    # rotate 90 CCW: [[20],[10]] -> 20*1 + 10*2 = 40
    assert (out["i8"]["out_w"], out["i8"]["wsum"]) == (1, 40)
    # transverse: [[20],[10]] -> 40
    assert out["i7"]["wsum"] == 40
    # px_sum invariant across all orientations
    assert {out[k]["px_sum"] for k in out} == {30}


def test_hillshade_flat_and_slope(spark):
    import numpy as np

    from mapnik_vector_tile_spark.operators.raster import (
        hillshade_tiles,
        terrain_rgb_encode,
    )

    T = 8
    flat = np.zeros((T, T), dtype=np.int64)
    # plane rising toward +x (east): P = 8*slope per pixel, Q = 0
    ramp = np.tile(np.arange(T, dtype=np.int64) * 10, (T, 1))
    rows = [
        (5, 0, 0, terrain_rgb_encode(flat).tobytes()),
        (5, 1, 0, terrain_rgb_encode(ramp).tobytes()),
    ]
    df = spark.createDataFrame(rows, "z long, x long, y long, raster binary")
    out = {(r["x"], r["y"]): r for r in hillshade_tiles(df, T).collect()}
    n_in = (T - 2) * (T - 2)
    f = out[(0, 0)]
    # flat: P=Q=0 -> nl=32, n2=256, cos^2 = 4096/6144 = 2/3 -> band 3
    assert f["n_px"] == n_in and f["c3"] == n_in
    assert f["sum_nl"] == 32 * n_in and f["sum_n2"] == 256 * n_in
    r = out[(1, 0)]
    # ramp: P = 80, Q = 0 -> nl = -80+0+32 < 0 -> all shadow
    assert r["c0"] == n_in and r["sum_nl"] == (-80 + 32) * n_in


def test_shelf_pack_rules():
    import pytest as _pytest

    from mapnik_vector_tile_spark.functions.shelfpack import shelf_pack

    # tallest-first order, first-fit shelf, sheet rollover
    out = shelf_pack([(1, 4, 4), (2, 4, 4), (3, 4, 4), (4, 10, 5), (5, 3, 2)], 10)
    assert out == [
        (4, 0, 0, 0),   # 10x5 opens shelf y0
        (1, 0, 0, 5),   # opens shelf y5
        (2, 0, 4, 5),   # first-fit on shelf y5
        (3, 1, 0, 0),   # no room -> new sheet
        (5, 1, 4, 0),   # fits on sheet 1's first shelf
    ]
    with _pytest.raises(ValueError):
        shelf_pack([(1, 11, 2)], 10)


def test_sprite_atlas_no_overlap(spark):
    from mapnik_vector_tile_spark.operators.raster import sprite_atlas

    rows = [(0, i, 1 + (i * 7) % 20, 1 + (i * 13) % 20) for i in range(40)]
    df = spark.createDataFrame(rows, "g long, icon_id long, w long, h long")
    placed = sprite_atlas(df, atlas=64).collect()
    assert len(placed) == 40
    dims = {r[1]: (r[2], r[3]) for r in rows}
    # no two rectangles on the same sheet overlap, all inside the atlas
    by_sheet: dict = {}
    for r in placed:
        w, h = dims[r["icon_id"]]
        assert 0 <= r["px"] and r["px"] + w <= 64
        assert 0 <= r["py"] and r["py"] + h <= 64
        by_sheet.setdefault(r["sheet"], []).append((r["px"], r["py"], w, h))
    for rects in by_sheet.values():
        for i in range(len(rects)):
            for j in range(i + 1, len(rects)):
                x1, y1, w1, h1 = rects[i]
                x2, y2, w2, h2 = rects[j]
                assert (
                    x1 + w1 <= x2 or x2 + w2 <= x1
                    or y1 + h1 <= y2 or y2 + h2 <= y1
                ), (rects[i], rects[j])


def test_quality_mosaic_argmax_and_ties(spark):
    import numpy as np

    from mapnik_vector_tile_spark.operators.raster import quality_mosaic

    T = 4
    # scene 1: constant 10; scene 2: constant 10 except one brighter px
    a = np.full((T, T), 10, dtype=np.uint8)
    b = a.copy()
    b[2, 3] = 200
    rows = [
        (5, 0, 0, 1, a.tobytes()),
        (5, 0, 0, 2, b.tobytes()),
    ]
    df = spark.createDataFrame(
        rows, "z long, x long, y long, scene_id long, raster binary"
    )
    out = {r["scene_id"]: r for r in quality_mosaic(df, T).collect()}
    # ties -> smaller scene_id wins everywhere except the bright pixel
    assert out[1]["pixels_won"] == 15 and out[1]["sum_won"] == 150
    assert out[2]["pixels_won"] == 1 and out[2]["sum_won"] == 200
    pos = 2 * T + 3 + 1
    want_wsum = sum(
        (i + 1) * 10 for i in range(T * T) if i != pos - 1
    ) + pos * 200
    assert out[1]["mosaic_wsum"] == out[2]["mosaic_wsum"] == want_wsum


def test_convolve_identity_and_shift(spark):
    import numpy as np
    import pytest as _pytest

    from mapnik_vector_tile_spark.operators.raster import convolve_tiles

    T = 8
    rng = (np.arange(T * T, dtype=np.int64) * 37 % 256).reshape(T, T)
    tiles = spark.createDataFrame(
        [(1, 0, 0, rng.astype(np.uint8).tobytes())],
        "z long, x long, y long, raster binary",
    )
    # identity kernel: response == source
    ident = spark.createDataFrame([(0, 0, 1)], "dy long, dx long, w long")
    out = convolve_tiles(tiles, ident, T).collect()[0]
    assert out["n_px"] == T * T and out["sum_r"] == int(rng.sum())
    assert out["min_r"] == int(rng.min()) and out["max_r"] == int(rng.max())
    # horizontal difference kernel: valid width shrinks by 1
    dx = spark.createDataFrame(
        [(0, 1, 1), (0, 0, -1)], "dy long, dx long, w long"
    )
    o2 = convolve_tiles(tiles, dx, T).collect()[0]
    assert o2["n_px"] == T * (T - 1)
    want = rng[:, 1:] - rng[:, :-1]
    assert o2["sum_r"] == int(want.sum())
    assert o2["sum_abs"] == int(np.abs(want).sum())
    # kernel wider than tile -> error
    wide = spark.createDataFrame(
        [(0, 0, 1), (0, 9, 1)], "dy long, dx long, w long"
    )
    with _pytest.raises(ValueError):
        convolve_tiles(tiles, wide, T)


def test_flow_d8_ramp_and_sink(spark):
    import numpy as np

    from mapnik_vector_tile_spark.operators.raster import (
        flow_direction_tiles,
        terrain_rgb_encode,
    )

    T = 6
    # plane falling toward +x (east): every interior cell flows E (0)
    ramp = np.tile(np.arange(T, dtype=np.int64) * -10, (T, 1))
    # bowl: center cell lower than all neighbors -> neighbors flow
    # toward it, center is a sink
    bowl = np.full((T, T), 100, dtype=np.int64)
    bowl[2, 2] = 0
    rows = [
        (5, 0, 0, terrain_rgb_encode(ramp).tobytes()),
        (5, 1, 0, terrain_rgb_encode(bowl).tobytes()),
    ]
    df = spark.createDataFrame(rows, "z long, x long, y long, raster binary")
    out = {}
    for r in flow_direction_tiles(df, T).collect():
        out.setdefault((r["x"], r["y"]), {})[r["dir"]] = r
    n_in = (T - 2) * (T - 2)
    ramp_dirs = out[(0, 0)]
    assert set(ramp_dirs) == {0} and ramp_dirs[0]["n_cells"] == n_in
    assert ramp_dirs[0]["sum_key"] == 2 * 10 * 10 * n_in
    bowl_dirs = out[(1, 0)]
    # center is the sink; flat plateau cells are also sinks (no drop)
    assert -1 in bowl_dirs
    # the 8 cells around the pit flow toward it with key 2*100^2
    # (cardinal) or 100^2 (diagonal); all other interior cells flat
    keyed = sum(
        r["n_cells"] for d, r in bowl_dirs.items() if d >= 0
    )
    assert keyed == 8
    assert bowl_dirs[-1]["n_cells"] == n_in - 8


def test_flow_accumulation_channel(spark):
    import numpy as np

    from mapnik_vector_tile_spark.operators.raster import (
        flow_accumulation_tiles,
        terrain_rgb_encode,
    )

    T = 8
    # monotone east-falling ramp: each interior row is a west-to-east
    # chain; with rounds >= chain length the east cell of each row
    # accumulates the full row, acc = 1..(T-2) along the row
    ramp = np.tile(np.arange(T, dtype=np.int64) * -10, (T, 1))
    df = spark.createDataFrame(
        [(5, 0, 0, terrain_rgb_encode(ramp).tobytes())],
        "z long, x long, y long, raster binary",
    )
    out = flow_accumulation_tiles(df, T, rounds=8).collect()[0]
    oh = T - 2
    # per row: accumulation 1, 2, ..., oh -> sum = oh*(oh+1)/2
    assert out["n_cells"] == oh * oh
    assert out["sum_acc"] == oh * (oh * (oh + 1) // 2)
    assert out["max_acc"] == oh
    # hop-bounding: with rounds=1 each cell sees at most one upstream
    out1 = flow_accumulation_tiles(df, T, rounds=1).collect()[0]
    assert out1["max_acc"] == 2


def test_histogram_match_constant_and_monotone(spark):
    import numpy as np

    from mapnik_vector_tile_spark.operators.raster import (
        encode_image,
        histogram_match_stats,
    )

    # constant image: cdf jumps to n at its single value v0, so
    # lut[v0] = min t with (t+1)(t+2)/2 >= 32896 -> t = 255
    flat = np.full((8, 8, 4), 100, dtype=np.uint8)
    flat[..., 3] = 255
    df = spark.createDataFrame(
        [("a", encode_image(flat, "raw-rgba8"), 8, 8, "raw-rgba8", "c")],
        "image_id string, bytes binary, w int, h int, fmt string,"
        " caption string",
    )
    out = histogram_match_stats(df).collect()[0]
    assert out["max_m"] == 255 and out["sum_m"] == 255 * 64
    # two-level image: darker half maps strictly below brighter half
    two = np.zeros((8, 8, 4), dtype=np.uint8)
    two[..., 3] = 255
    two[:, 4:, :3] = 200
    df2 = spark.createDataFrame(
        [("b", encode_image(two, "raw-rgba8"), 8, 8, "raw-rgba8", "c")],
        "image_id string, bytes binary, w int, h int, fmt string,"
        " caption string",
    )
    o2 = histogram_match_stats(df2).collect()[0]
    # half the pixels at lut(cdf=0.5) = min t with (t+1)(t+2)>=32896
    # -> t=180; the rest at 255
    assert o2["max_m"] == 255
    assert o2["sum_m"] == 32 * 180 + 32 * 255


def test_cutmix_paste_and_ratio(spark):
    import numpy as np

    from mapnik_vector_tile_spark.operators.raster import (
        cutmix_stats,
        encode_image,
    )

    # A all-black, B all-white (same dims): mixed wsum = 255 * sum of
    # positions inside the patch; lam = 1 - patch/total
    T = 16
    blk = np.zeros((T, T, 4), dtype=np.uint8)
    blk[..., 3] = 255
    wht = np.full((T, T, 4), 255, dtype=np.uint8)
    imgs = spark.createDataFrame(
        [
            ("a", encode_image(blk, "raw-rgba8"), T, T, "raw-rgba8", "capA"),
            ("b", encode_image(wht, "raw-rgba8"), T, T, "raw-rgba8", "capB"),
        ],
        "image_id string, bytes binary, w int, h int, fmt string,"
        " caption string",
    )
    pairs = spark.createDataFrame(
        [(7, "a", "b")], "pair_id long, ida string, idb string"
    )
    out = cutmix_stats(imgs, pairs).collect()[0]
    assert out["lam_den"] == T * T
    assert out["lam_num"] == T * T - out["patch_area"]
    assert out["caption"] == "capA | capB"
    # reproduce the patch geometry with the committed coin
    from mapnik_vector_tile_spark.sources.synth import splitmix64

    hh = int(splitmix64(np.array([7], dtype=np.uint64))[0])
    pw = 1 + hh % (T // 2)
    ph = 1 + (hh >> 8) % (T // 2)
    x0 = (hh >> 16) % (T - pw + 1)
    y0 = (hh >> 24) % (T - ph + 1)
    assert out["patch_area"] == pw * ph
    pos = np.arange(1, T * T + 1, dtype=np.int64).reshape(T, T)
    # white luma through the ITU-601 fold is (255*77+255*151+255*28)>>8
    wl = (255 * 77 + 255 * 151 + 255 * 28) >> 8
    want = int(pos[y0 : y0 + ph, x0 : x0 + pw].sum()) * wl
    assert out["wsum"] == want


def test_watershed_two_basins(spark):
    import numpy as np

    from mapnik_vector_tile_spark.operators.raster import (
        terrain_rgb_encode,
        watershed_tiles,
    )

    T = 8
    # V-shaped valley: elevation = |c - edge| so the left half drains
    # west, right half drains east -> two basins on the 6x6 interior
    c = np.arange(T, dtype=np.int64)
    e = np.tile(np.minimum(c, T - 1 - c) * 100, (T, 1))
    df = spark.createDataFrame(
        [(5, 0, 0, terrain_rgb_encode(e).tobytes())],
        "z long, x long, y long, raster binary",
    )
    out = watershed_tiles(df, T).collect()[0]
    oh = T - 2
    # each row splits into a west-draining and east-draining run;
    # terminals are the interior-boundary cells of each row -> one
    # basin per (row, side) = 2 * oh basins of size oh/2
    assert out["n_basins"] == 2 * oh
    assert out["max_size"] == oh // 2


def test_sniff_dims_all_containers(spark):
    import numpy as np

    from mapnik_vector_tile_spark.operators.raster import (
        encode_image,
        sniff_image_dims,
    )

    rgba = np.zeros((21, 33, 4), dtype=np.uint8)
    rgba[..., 3] = 255
    rows = [
        (f, encode_image(rgba, f)) for f in ("png", "jpeg", "tiff", "webp")
    ] + [("raw", b"\x00" * 64)]
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    out = {r["image_id"]: r for r in sniff_image_dims(df).collect()}
    for f in ("png", "jpeg", "tiff", "webp"):
        assert out[f]["container"] == f
        assert (out[f]["w"], out[f]["h"]) == (33, 21), f
    assert out["raw"]["container"] == "unknown"
    assert (out["raw"]["w"], out["raw"]["h"]) == (-1, -1)


def test_viewshed_ridge_blocks_behind(spark):
    """R18: a flat tile sees everything; a ridge wall east of the
    observer hides the cells behind it but not the wall itself."""
    import numpy as np

    from mapnik_vector_tile_spark.operators.raster import (
        terrain_rgb_encode,
        viewshed_tiles,
    )

    T = 16
    flat = np.zeros((T, T), dtype=np.int64)
    wall = flat.copy()
    wall[:, 11] = 100000  # vertical wall east of the (8,8) observer
    df = spark.createDataFrame(
        [
            (5, 0, 0, terrain_rgb_encode(flat).tobytes()),
            (5, 1, 0, terrain_rgb_encode(wall).tobytes()),
        ],
        "z long, x long, y long, raster binary",
    )
    out = {(r.x): r for r in viewshed_tiles(df, T).collect()}
    assert out[0].n_visible == T * T - 1  # flat: all but the observer
    # wall tile: every cell with cx > 11 on a ray through the wall is
    # hidden; the wall column itself is visible
    blocked = out[0].n_visible - out[1].n_visible
    assert blocked > 0
    # recompute expected with an independent brute force
    def brute(e):
        o = (8, 8)
        a = e - (e[8, 8] + 500)
        n_vis = 0
        for ty in range(T):
            for tx in range(T):
                p = (tx - 8) ** 2 + (ty - 8) ** 2
                if p == 0:
                    continue
                vis = True
                for ky in range(T):
                    for kx in range(T):
                        if (kx, ky) in ((tx, ty), (8, 8)):
                            continue
                        dot = (tx - 8) * (kx - 8) + (ty - 8) * (ky - 8)
                        if not (0 < dot < p):
                            continue
                        cr = (tx - 8) * (ky - 8) - (ty - 8) * (kx - 8)
                        if 4 * cr * cr >= p:
                            continue
                        ak, at = a[ky, kx], a[ty, tx]
                        kp = (kx - 8) ** 2 + (ky - 8) ** 2
                        if ak >= 0 and at < 0:
                            ge = True
                        elif ak < 0 and at >= 0:
                            ge = False
                        elif at >= 0:
                            ge = ak * ak * p >= at * at * kp
                        else:
                            ge = ak * ak * p <= at * at * kp
                        if ge:
                            vis = False
                            break
                    if not vis:
                        break
                n_vis += vis
        return n_vis

    assert out[1].n_visible == brute(wall)


def test_strahler_junction_rule(spark):
    """R19: two order-1 streams meeting promote the junction to 2; a
    single continuation keeps the max; the census reflects it."""
    import numpy as np

    from mapnik_vector_tile_spark.operators.raster import (
        strahler_tiles,
        terrain_rgb_encode,
    )

    T = 10
    # a V-shaped valley: elevations fall toward the center column and
    # downward, so the two flanks drain into the center channel
    col = np.abs(np.arange(T) - 5)
    e = (col[None, :] * 100 + (T - np.arange(T))[:, None] * 10).astype(
        np.int64
    )
    df = spark.createDataFrame(
        [(5, 0, 0, terrain_rgb_encode(e).tobytes())],
        "z long, x long, y long, raster binary",
    )
    out = strahler_tiles(df, T).collect()[0]
    assert out.max_order >= 2  # flanks join the channel
    assert out.n_sources >= 2
    assert out.sum_order >= out.n_sources + 2 * (
        out.max_order >= 2
    )


def test_viewshed_sweep_equals_reference(spark):
    """R18 scale path: viewshed_sweep_tiles (corridor line-walk,
    O(T³)/O(T²)) must reproduce viewshed_tiles (dense R3 reference,
    O(T⁴)) EXACTLY — same corridor + slope predicate, enumerated via
    ±0.71-band candidates instead of all-pairs — across random
    terrain, multiple observer positions, and a T the reference form
    still accepts."""
    import numpy as np

    from mapnik_vector_tile_spark.operators.raster import (
        terrain_rgb_encode,
        viewshed_sweep_tiles,
        viewshed_tiles,
    )

    rng = np.random.default_rng(11)
    for T, obs_list in (
        (16, [None, (3, 12), (0, 0), (15, 7)]),
        (48, [None, (5, 40)]),
    ):
        rows = [
            (0, i, 0,
             terrain_rgb_encode(
                 rng.integers(-10000, 10000, size=(T, T)).astype(np.int64)
             ).tobytes())
            for i in range(8)
        ]
        df = spark.createDataFrame(
            rows, "z long, x long, y long, raster binary"
        )
        for obs in obs_list:
            a = (
                viewshed_tiles(df, T, obs=obs).toPandas()
                .sort_values(["z", "x", "y"]).reset_index(drop=True)
            )
            b = (
                viewshed_sweep_tiles(df, T, obs=obs).toPandas()
                .sort_values(["z", "x", "y"]).reset_index(drop=True)
            )
            assert a.equals(b), (T, obs)


def test_viewshed_sweep_runs_above_reference_bound(spark):
    """The whole point of the sweep: production tile sizes that the
    reference form REJECTS (T > 64, quartic matrices) decode fine —
    and a flat tile still sees everything."""
    import numpy as np
    import pytest

    from mapnik_vector_tile_spark.operators.raster import (
        terrain_rgb_encode,
        viewshed_sweep_tiles,
        viewshed_tiles,
    )

    T = 128
    flat = np.zeros((T, T), dtype=np.int64)
    df = spark.createDataFrame(
        [(0, 0, 0, terrain_rgb_encode(flat).tobytes())],
        "z long, x long, y long, raster binary",
    )
    with pytest.raises(ValueError, match="brute-force bound"):
        viewshed_tiles(df, T)
    r = viewshed_sweep_tiles(df, T).collect()[0]
    assert r.n_visible == T * T - 1


# --- blob labeling (raster.blob_stats) -------------------------------------


def _img_row(image_id, gray):
    """Grayscale uint8 grid -> images-table row. 77+151+28 = 256, so
    r=g=b=v gives luma8 exactly v: the mask (v % 4 == 0) is directly
    hand-controllable."""
    import numpy as np

    g = np.asarray(gray, dtype=np.uint8)
    h, w = g.shape
    rgba = np.stack([g, g, g, np.full_like(g, 255)], axis=-1)
    return (image_id, bytearray(rgba.tobytes()), int(w), int(h),
            "raw-rgba8", "cap " + image_id)


def _blobs(spark, rows):
    from mapnik_vector_tile_spark.operators.raster import blob_stats

    df = spark.createDataFrame(
        rows,
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string",
    )
    return {r["image_id"]: r for r in blob_stats(df).collect()}


def test_blob_hand_image(spark):
    # 4x4: '4' pixels are mask-on (4%4==0), '1' off. Two components:
    # an L of size 3 rooted at pid 0, a singleton at pid 15.
    g = [
        [4, 1, 1, 1],
        [4, 4, 1, 1],
        [1, 1, 1, 1],
        [1, 1, 1, 4],
    ]
    r = _blobs(spark, [_img_row("a", g)])["a"]
    assert (r["n_fg"], r["n_comps"], r["max_comp"]) == (4, 2, 3)
    assert r["ch"] == (0 * 1000003 + 3) % 2147483647 + (
        15 * 1000003 + 1
    ) % 2147483647


def test_blob_diagonal_not_connected(spark):
    # 4-connectivity: diagonal touch = two components
    g = [
        [4, 1],
        [1, 4],
    ]
    r = _blobs(spark, [_img_row("d", g)])["d"]
    assert (r["n_fg"], r["n_comps"], r["max_comp"]) == (2, 2, 1)


def test_blob_empty_mask(spark):
    g = [[1, 1], [1, 1]]
    r = _blobs(spark, [_img_row("e", g)])["e"]
    assert (r["n_fg"], r["n_comps"], r["max_comp"], r["ch"]) == (0, 0, 0, 0)


def test_blob_corpus_relax_bound_and_invariants():
    # corpus-shape invariant: measured min-label fixpoint distance on
    # the fixed 400-image corpus must stay <= 20 (the r5 recursive-CTE
    # twin no longer needs an unroll margin — this now pins that the
    # recursion's working set stays component-bounded and small)
    import numpy as np

    from mapnik_vector_tile_spark.sources.synth import make_pixels

    INF = np.int64(1) << np.int64(62)
    worst = 0
    for i in range(400):
        w = 16 + (i * 7) % 49
        h = 16 + (i * 11) % 49
        a = make_pixels(i, w, h).astype(np.int64)
        g = (a[..., 0] * 77 + a[..., 1] * 151 + a[..., 2] * 28) >> 8
        mask = (g % 4) == 0
        pid = np.arange(h * w, dtype=np.int64).reshape(h, w)
        lbl = np.where(mask, pid, INF)
        it = 0
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
            it += 1
        worst = max(worst, it)
    assert worst <= 20, worst


# --- Harris corners (raster.harris_corner_stats) ---------------------------


def test_harris_synthetic_corner(spark):
    import numpy as np

    from mapnik_vector_tile_spark.operators.raster import (
        encode_image,
        harris_corner_stats,
    )

    # a bright axis-aligned square on black: strong responses at its
    # 4 corners, edges alone must NOT fire (that's the Harris point)
    img = np.zeros((24, 24, 4), dtype=np.uint8)
    img[..., 3] = 255
    img[6:18, 6:18, :3] = 255
    rows = [("img_a", encode_image(img, "raw-rgba8"), 24, 24,
             "raw-rgba8", "cap a")]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string,"
        " caption string"
    )
    out = harris_corner_stats(df).collect()[0]
    assert out["n_corners"] >= 4
    assert out["max_r"] > 0
    assert out["caption"] == "cap a"

    # a pure vertical edge image: no corners anywhere
    edge = np.zeros((24, 24, 4), dtype=np.uint8)
    edge[..., 3] = 255
    edge[:, 12:, :3] = 255
    df2 = spark.createDataFrame(
        [("img_b", encode_image(edge, "raw-rgba8"), 24, 24,
          "raw-rgba8", "cap b")],
        "image_id string, bytes binary, w int, h int, fmt string,"
        " caption string",
    )
    out2 = harris_corner_stats(df2).collect()[0]
    assert out2["n_corners"] == 0
