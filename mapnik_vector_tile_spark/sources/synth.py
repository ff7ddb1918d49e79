"""Deterministic synthetic input tables (FIXTURES.md §1-2, seed 42).

The ``images`` table is exactly BASELINE.json ``input_hint``:
(image_id string, bytes binary, w int, h int, fmt string,
caption string, phash bigint). Geographic footprints are NOT stored —
they derive from ``phash`` (splitmix64 bit slices), so the table stays
input_hint-shaped and any stage can recompute them.

Skew by construction: 40% of rows (i % 5 < 2) land in one of three
Gaussian city clusters — guarantees hot z0-z5 cells for the
salting/adaptive-split tests the north_rule demands.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd

SEED = 42

_WORDS = (
    "amber basin cairn delta ember frost grove harbor inlet juniper "
    "kestrel lagoon meadow nadir opal prairie quartz ridge summit tundra "
    "umber vale willow xenon yonder zephyr arch bluff cove dune escarp "
    "fjord glen hollow isle knoll ledge mesa notch outcrop pass quarry "
    "reef shoal terrace upland vent wash xeric yardang zone atoll butte "
    "col drift esker flume gorge heath inler jetty kame loess"
).split()

# (lon, lat) of the three hotspot cluster centers (fixed city coords)
_HOTSPOTS = np.array([[-74.0060, 40.7128], [2.3522, 48.8566], [139.6917, 35.6895]])


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Committed constant mixing function (FIXTURES.md §1): the public
    splitmix64 finalizer. uint64 in/out."""
    z = (np.asarray(x, dtype=np.uint64) + np.uint64(0x9E3779B97F4A7C15))
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def phash_for_index(i: np.ndarray) -> np.ndarray:
    return splitmix64(i).astype(np.int64)


def _u01(bits: np.ndarray, shift: int) -> np.ndarray:
    """24-bit slice of a uint64 -> uniform [0,1)."""
    return (((bits >> np.uint64(shift)) & np.uint64(0xFFFFFF)).astype(np.float64)) / float(
        1 << 24
    )


def footprint_from_phash(phash: np.ndarray, i: np.ndarray | None = None):
    """(lon, lat, half_width_deg) derived from phash — FIXTURES.md §1.

    Rows with i % 5 < 2 snap to a Gaussian hotspot cluster (sigma 0.5
    deg); others are uniform over lon [-180,180) lat [-85,85).
    """
    h = np.asarray(phash, dtype=np.int64).astype(np.uint64)
    u1, u2 = _u01(h, 0), _u01(h, 24)
    lon = -180.0 + 360.0 * u1
    lat = -85.0 + 170.0 * u2
    if i is not None:
        i = np.asarray(i, dtype=np.int64)
        hot = (i % 5) < 2
        which = (i % 3).astype(np.int64)
        # Box-Muller from two more bit slices for a deterministic gaussian
        g1 = _u01(h, 40)
        g2 = _u01(splitmix64(h), 8)
        r = np.sqrt(-2.0 * np.log(np.maximum(g1, 1e-12)))
        n1 = r * np.cos(2 * np.pi * g2)
        n2 = r * np.sin(2 * np.pi * g2)
        lon = np.where(hot, _HOTSPOTS[which, 0] + 0.5 * n1, lon)
        lat = np.where(hot, np.clip(_HOTSPOTS[which, 1] + 0.5 * n2, -85, 85), lat)
    half_w = 0.001 * (1.0 + (h % np.uint64(8)).astype(np.float64))
    return lon, lat, half_w


def _png_zlib_encode(rgba: np.ndarray) -> bytes:
    """Minimal lossless codec: header + zlib(raw rgba). Stand-in for
    PNG (no Pillow in sandbox); self-describing and round-trippable."""
    h, w = rgba.shape[:2]
    return (
        b"PZ01"
        + int(w).to_bytes(4, "big")
        + int(h).to_bytes(4, "big")
        + zlib.compress(rgba.tobytes(), 6)
    )


def png_zlib_decode(buf: bytes) -> np.ndarray:
    assert buf[:4] == b"PZ01", "bad magic"
    w = int.from_bytes(buf[4:8], "big")
    h = int.from_bytes(buf[8:12], "big")
    return np.frombuffer(zlib.decompress(buf[12:]), dtype=np.uint8).reshape(h, w, 4)


def make_pixels(i: int, w: int, h: int) -> np.ndarray:
    """Deterministic gradient+noise RGBA8 pattern (non-trivial to
    resample). Pure numpy from splitmix64 streams."""
    idx = np.arange(w * h, dtype=np.uint64) + np.uint64(i) * np.uint64(0x10001)
    noise = (splitmix64(idx) & np.uint64(0x3F)).astype(np.uint8).reshape(h, w)
    yy, xx = np.mgrid[0:h, 0:w]
    r = ((xx * 255) // max(w - 1, 1)).astype(np.uint8)
    g = ((yy * 255) // max(h - 1, 1)).astype(np.uint8)
    b = ((xx + yy) * 255 // max(w + h - 2, 1)).astype(np.uint8)
    rgba = np.stack(
        [r + noise, g + noise, b + noise, np.full((h, w), 255, np.uint8)], axis=-1
    )
    return rgba


def gen_images_pdf(n: int, start: int = 0, with_bytes: bool = True) -> pd.DataFrame:
    """Generate n rows of the images table as pandas (Arrow-friendly)."""
    i = np.arange(start, start + n, dtype=np.int64)
    ph = phash_for_index(i)
    w = (16 + (i * 7) % 49).astype(np.int32)
    h = (16 + (i * 11) % 49).astype(np.int32)
    fmt = np.where(i % 10 == 9, "png-zlib", "raw-rgba8")
    hbits = ph.astype(np.uint64)
    w1 = np.asarray(_WORDS)[(hbits % np.uint64(len(_WORDS))).astype(int)]
    w2 = np.asarray(_WORDS)[((hbits >> np.uint64(6)) % np.uint64(len(_WORDS))).astype(int)]
    w3 = np.asarray(_WORDS)[((hbits >> np.uint64(12)) % np.uint64(len(_WORDS))).astype(int)]
    caption = [f"caption {int(k)}: {a} {b} {c}" for k, a, b, c in zip(i, w1, w2, w3)]
    if with_bytes:
        blobs = []
        for k in range(n):
            rgba = make_pixels(int(i[k]), int(w[k]), int(h[k]))
            blobs.append(
                _png_zlib_encode(rgba) if fmt[k] == "png-zlib" else rgba.tobytes()
            )
    else:
        blobs = [b""] * n
    return pd.DataFrame(
        {
            "image_id": [f"img_{int(k):012d}" for k in i],
            "bytes": blobs,
            "w": w,
            "h": h,
            "fmt": fmt,
            "caption": caption,
            "phash": ph,
        }
    )


def images_df(spark, n: int, with_bytes: bool = True, slices: int | None = None):
    """Distributed generation: range -> mapInPandas, so the table is
    born partitioned (no driver-side materialization at bench scale)."""
    slices = slices or max(8, spark.sparkContext.defaultParallelism)
    base = spark.range(0, n, 1, slices)

    def gen(it):
        for pdf in it:
            ids = pdf["id"].to_numpy()
            if len(ids) == 0:
                continue
            # ids from spark.range are contiguous per batch slice-wise;
            # generate row-exact regardless of order by grouping
            # contiguous runs (non-empty by the guard above)
            splits = np.nonzero(np.diff(ids) != 1)[0] + 1
            yield pd.concat(
                [
                    gen_images_pdf(len(seg), int(seg[0]), with_bytes)
                    for seg in np.split(ids, splits)
                ]
            )

    schema = (
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long"
    )
    return base.mapInPandas(gen, schema=schema)


def gen_regions_pdf(n_regions: int = 200) -> pd.DataFrame:
    """Polygon regions table (FIXTURES.md §2). Rect 50% / convex 25% /
    concave(star) 15% / holed 10%. Coords lon/lat; ring_offsets mark
    ring boundaries in xs/ys."""
    rng = np.random.default_rng(SEED)
    rows = []
    for rid in range(n_regions):
        u = rng.random(8)
        cx = -170.0 + 340.0 * u[0]
        cy = -80.0 + 160.0 * u[1]
        size = 0.5 + 9.5 * u[2] ** 2
        kind_pick = rid % 20
        if kind_pick < 10:
            kind = "rect"
            xs = [cx - size, cx + size, cx + size, cx - size, cx - size]
            ys = [cy - size, cy - size, cy + size, cy + size, cy - size]
            offs = [0, 5]
        elif kind_pick < 15:
            kind = "convex"
            k = 6 + int(u[3] * 6)
            ang = np.linspace(0, 2 * np.pi, k, endpoint=False)
            xs = (cx + size * np.cos(ang)).tolist() + [cx + size]
            ys = (cy + size * np.sin(ang)).tolist() + [cy]
            offs = [0, k + 1]
        elif kind_pick < 18:
            kind = "concave"
            k = 5 + int(u[3] * 4)
            ang = np.linspace(0, 2 * np.pi, 2 * k, endpoint=False)
            rad = np.where(np.arange(2 * k) % 2 == 0, size, size * 0.4)
            xs = (cx + rad * np.cos(ang)).tolist()
            ys = (cy + rad * np.sin(ang)).tolist()
            xs.append(xs[0]); ys.append(ys[0])
            offs = [0, 2 * k + 1]
        else:
            kind = "holed"
            xs = [cx - size, cx + size, cx + size, cx - size, cx - size]
            ys = [cy - size, cy - size, cy + size, cy + size, cy - size]
            hs = size * 0.4
            # hole wound opposite (CW in lon/lat y-up)
            hx = [cx - hs, cx - hs, cx + hs, cx + hs, cx - hs]
            hy = [cy - hs, cy + hs, cy + hs, cy - hs, cy - hs]
            xs, ys = xs + hx, ys + hy
            offs = [0, 5, 10]
        rows.append(
            {
                "region_id": rid,
                "name": f"region_{rid}",
                "kind": kind,
                "xs": [float(v) for v in xs],
                "ys": [float(v) for v in ys],
                "ring_offsets": offs,
            }
        )
    return pd.DataFrame(rows)


def gen_regions_merc_pdf(n_regions: int = 200) -> pd.DataFrame:
    """Regions with vertices pre-transformed to EPSG:3857 in numpy.
    The SAME float64 values are inlined (shortest-roundtrip repr) into
    the DuckDB oracle SQL, so engine and oracle ray-cast bit-identical
    polygon geometry — this is what upgrades the concave-PIP check
    from rows-only to a full value-hash oracle."""
    from mapnik_vector_tile_spark.functions.tilemath import lonlat_to_merc_np

    pdf = gen_regions_pdf(n_regions)
    mxs, mys = [], []
    for xs, ys in zip(pdf["xs"], pdf["ys"]):
        a, b = lonlat_to_merc_np(np.asarray(xs), np.asarray(ys))
        mxs.append([float(v) for v in a])
        mys.append([float(v) for v in b])
    out = pdf.copy()
    out["xs"] = mxs
    out["ys"] = mys
    return out


def regions_merc_df(spark, n_regions: int = 200):
    pdf = gen_regions_merc_pdf(n_regions)
    schema = (
        "region_id long, name string, kind string, xs array<double>, "
        "ys array<double>, ring_offsets array<int>"
    )
    return spark.createDataFrame(pdf, schema=schema)


def gen_raster_polys(n_polys: int = 120) -> list[dict]:
    """Deterministic concave 'staircase' polygons in tile-local INTEGER
    coords (extent 4096) for the R4 rasterize oracle — every 3rd poly
    carries an interior hole ring. Integer vertices mean the scaled
    pixel-space coords (v * tile_size/extent with a power-of-two scale)
    are exact dyadic float64s on both engines, so the scanline crossing
    arithmetic is bit-identical between numpy and the DuckDB SQL that
    inlines these same integers."""
    out = []
    for p in range(n_polys):
        x0 = 128 + (p * 389) % 1200
        y0 = 128 + (p * 607) % 1200
        w = 1200 + (p * 211) % 1500
        h = 1200 + (p * 97) % 1500
        nx, ny = w // 3, h // 3
        outer = [
            (x0, y0), (x0 + w, y0), (x0 + w, y0 + ny),
            (x0 + w - nx, y0 + ny), (x0 + w - nx, y0 + 2 * ny),
            (x0 + w, y0 + 2 * ny), (x0 + w, y0 + h), (x0, y0 + h),
        ]
        rings = [outer]
        if p % 3 == 0:
            hx, hy = x0 + w // 4, y0 + h // 4
            hw, hh = max(w // 4, 8), max(h // 4, 8)
            rings.append(
                [(hx, hy), (hx, hy + hh), (hx + hw, hy + hh), (hx + hw, hy)]
            )
        out.append({"poly_id": p, "rings": rings})
    return out
