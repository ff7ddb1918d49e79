"""Web-Mercator / XYZ tile pyramid math — SURVEY.md Appendix A.1-A.6.

Reference semantics: src/vector_tile_projection.hpp (lonlat2merc /
merc2lonlat, xyz->bbox), src/vector_tile_merc_tile.hpp (merc_tile),
src/vector_tile_strategy.hpp (world->tile-local quantization with
std::round = half-away-from-zero), MVT 2.1 spec (zigzag, CommandInteger).

Two twin implementations of every kernel:

* **numpy** — vectorized, used inside Arrow/pandas UDFs (the hot path);
* **Column** — pure pyspark.sql.functions expressions, whole-stage
  codegen'd JVM-side, and written with arithmetic that is bit-identical
  to the ANSI-SQL oracle (DuckDB) so the driver's value-hash compare
  passes.

All tile addressing is XYZ (y=0 at north, y grows south).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Constants (A.1) — normative
# ---------------------------------------------------------------------------

R = 6378137.0  # WGS84 spherical radius used by EPSG:3857
W = 20037508.342789244  # pi * R — world half-extent in mercator meters
MAXLAT = 85.05112877980659  # atan(sinh(pi)) in degrees — mercator clamp
PI = 3.141592653589793  # literal shared with oracle SQL (bit-exact parse)
DEFAULT_EXTENT = 4096  # MVT layer extent (integer coord range per tile)
DEFAULT_BUFFER = 128  # tile-units of over-fetch around the tile


def tile_span(z: int) -> float:
    """Mercator width/height of one tile at zoom z."""
    return 2.0 * W / (1 << z)


# ---------------------------------------------------------------------------
# numpy kernels
# ---------------------------------------------------------------------------


def lonlat_to_merc_np(lon: np.ndarray, lat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """EPSG:4326 -> 3857. lat clamped to +-MAXLAT (reference clamps too)."""
    lat = np.clip(lat, -MAXLAT, MAXLAT)
    mx = R * np.radians(lon)
    my = R * np.log(np.tan(PI / 4.0 + np.radians(lat) / 2.0))
    return mx, my


def merc_to_lonlat_np(mx: np.ndarray, my: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    lon = np.degrees(mx / R)
    lat = np.degrees(2.0 * np.arctan(np.exp(my / R)) - PI / 2.0)
    return lon, lat


def tile_bounds_np(z, x, y):
    """(z,x,y) -> (minx, miny, maxx, maxy) mercator. Vectorized."""
    z = np.asarray(z, dtype=np.int64)
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    span = 2.0 * W / np.power(2.0, z)
    minx = -W + x * span
    maxy = W - y * span
    return minx, maxy - span, minx + span, maxy


def point_tile_np(mx: np.ndarray, my: np.ndarray, z: int) -> tuple[np.ndarray, np.ndarray]:
    """Tile address containing a mercator point, clamped to the pyramid."""
    span = tile_span(z)
    n = (1 << z) - 1
    tx = np.clip(np.floor((mx + W) / span), 0, n).astype(np.int64)
    ty = np.clip(np.floor((W - my) / span), 0, n).astype(np.int64)
    return tx, ty


def covering_tiles_np(
    minx: np.ndarray,
    miny: np.ndarray,
    maxx: np.ndarray,
    maxy: np.ndarray,
    z: int,
    buffer_units: int = DEFAULT_BUFFER,
    extent: int = DEFAULT_EXTENT,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Closed-form tile ranges whose *buffered* extent intersects the
    envelope (A.2): returns (tx_lo, tx_hi, ty_lo, ty_hi) inclusive.

    A tile's buffered extent is its bbox grown by span*buffer/extent, so
    tile t intersects env iff env grown by the same margin contains t's
    unbuffered bbox edge — i.e. floor-range over the grown envelope.
    """
    span = tile_span(z)
    b = span * buffer_units / extent
    n = (1 << z) - 1
    tx_lo = np.clip(np.floor((minx - b + W) / span), 0, n).astype(np.int64)
    tx_hi = np.clip(np.floor((maxx + b + W) / span), 0, n).astype(np.int64)
    ty_lo = np.clip(np.floor((W - (maxy + b)) / span), 0, n).astype(np.int64)
    ty_hi = np.clip(np.floor((W - (miny - b)) / span), 0, n).astype(np.int64)
    return tx_lo, tx_hi, ty_lo, ty_hi


def round_half_away_np(v: np.ndarray) -> np.ndarray:
    """std::round parity (A.3): half-away-from-zero, NOT banker's.

    Computed as trunc + exact-fraction compare, NOT floor(|v|+0.5):
    the addition rounds v=0.49999999999999994 (largest double < 0.5)
    up to exactly 1.0 before the floor, while std::round returns 0 —
    the fraction v-trunc(v) is exact in IEEE754, so comparing it
    reproduces the C++ reference bit-for-bit."""
    v = np.asarray(v, dtype=np.float64)
    if v.ndim == 1 and len(v) <= 8:
        # scalar path for the encode kernel's tiny rings/lines —
        # value-identical per-element arithmetic (trunc/abs/compare
        # are exact scalar float64 ops), ~5x less numpy call overhead
        # at n<=8 (kernel-bench byte pin asserts no output change).
        # NaN/inf/|x|>=2^63 fall back to the vectorized path so the
        # adversarial-input behavior (silent int64 wrap, never an
        # OverflowError aborting a composite task) stays identical.
        try:
            out = np.empty(len(v), dtype=np.int64)
            for i in range(len(v)):
                x = v[i]
                t = float(int(x))  # trunc toward zero, exact for |x|<2^53
                frac = x - t
                if frac >= 0.5:
                    t += 1.0
                elif frac <= -0.5:
                    t -= 1.0
                out[i] = int(t)
            return out
        except (OverflowError, ValueError):
            pass
    t = np.trunc(v)
    frac = v - t  # exact: same-binade subtraction
    bump = np.where(np.abs(frac) >= 0.5, np.sign(v), 0.0)
    return (t + bump).astype(np.int64)


def quantize_np(
    mx: np.ndarray,
    my: np.ndarray,
    z: int,
    tx,
    ty,
    extent: int = DEFAULT_EXTENT,
) -> tuple[np.ndarray, np.ndarray]:
    """World mercator -> tile-local integer coords (y-down), A.3.

    Parity target: vector_tile_strategy::apply (view transform + round).
    """
    span = tile_span(z)
    minx = -W + np.asarray(tx, dtype=np.float64) * span
    maxy = W - np.asarray(ty, dtype=np.float64) * span
    px = round_half_away_np((mx - minx) * extent / span)
    py = round_half_away_np((maxy - my) * extent / span)
    return px, py


def unquantize_np(px, py, z: int, tx, ty, extent: int = DEFAULT_EXTENT):
    """Tile-local ints -> world mercator (decode path scale_x/scale_y)."""
    span = tile_span(z)
    minx = -W + np.asarray(tx, dtype=np.float64) * span
    maxy = W - np.asarray(ty, dtype=np.float64) * span
    mx = minx + np.asarray(px, dtype=np.float64) * span / extent
    my = maxy - np.asarray(py, dtype=np.float64) * span / extent
    return mx, my


def zigzag_encode_np(n: np.ndarray) -> np.ndarray:
    """MVT/protobuf zigzag: enc(n) = (n<<1) ^ (n>>63) on int64."""
    n = np.asarray(n, dtype=np.int64)
    return (n << 1) ^ (n >> 63)


def zigzag_decode_np(u: np.ndarray) -> np.ndarray:
    u = np.asarray(u, dtype=np.int64)
    # logical (unsigned) right shift so int64-extreme encodings decode
    half = (u.astype(np.uint64) >> np.uint64(1)).astype(np.int64)
    return half ^ -(u & 1)


MOVE_TO, LINE_TO, CLOSE_PATH = 1, 2, 7


def command_integer_np(cmd_id, count) -> np.ndarray:
    """CommandInteger = (id & 0x7) | (count << 3) — MVT 2.1 §4.3.2."""
    return (np.asarray(cmd_id, dtype=np.int64) & 0x7) | (
        np.asarray(count, dtype=np.int64) << 3
    )


def command_split_np(ci) -> tuple[np.ndarray, np.ndarray]:
    ci = np.asarray(ci, dtype=np.int64)
    return ci & 0x7, ci >> 3


# --- cells (A.6) — quadkey/Z-order packed int64; our H3/S2 stand-in ------


def _interleave_bits_np(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Morton interleave of two <=30-bit ints: bit i of x -> bit 2i,
    bit i of y -> bit 2i+1."""
    x = np.asarray(x, dtype=np.uint64)
    y = np.asarray(y, dtype=np.uint64)

    def spread(v: np.ndarray) -> np.ndarray:
        v = v & np.uint64(0x3FFFFFFF)
        v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
        v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
        v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
        v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
        v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
        return v

    return (spread(x) | (spread(y) << np.uint64(1))).astype(np.int64)


def _deinterleave_bits_np(m: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    m = np.asarray(m, dtype=np.uint64)

    def squash(v: np.ndarray) -> np.ndarray:
        v = v & np.uint64(0x5555555555555555)
        v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
        v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
        v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
        v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
        v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
        return v

    return squash(m).astype(np.int64), squash(m >> np.uint64(1)).astype(np.int64)


def cell_id_np(z, x, y) -> np.ndarray:
    """cell(z,x,y) = (1 << (2z+1)) | interleave(x, y); z <= 30 (A.6).

    The leading 1 bit encodes the level, so cells at different zooms
    never collide; parent(cell) = ((cell without tag) >> 2) retagged.
    """
    z = np.asarray(z, dtype=np.int64)
    tag = (np.uint64(1) << (2 * z + 1).astype(np.uint64)).astype(np.int64)
    return tag | _interleave_bits_np(x, y)


def cell_decode_np(cell) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """cell -> (z, x, y)."""
    cell = np.asarray(cell, dtype=np.int64)
    # integer log2 (highest set bit = 2z+1) via branchless shift cascade
    bl = np.zeros_like(cell)
    v = cell.astype(np.uint64).copy()
    for shift in (32, 16, 8, 4, 2, 1):
        mask = v >= (np.uint64(1) << np.uint64(shift))
        bl[mask] += shift
        v[mask] >>= np.uint64(shift)
    z = (bl - 1) // 2
    tag = (np.uint64(1) << (2 * z + 1).astype(np.uint64)).astype(np.int64)
    x, y = _deinterleave_bits_np(cell & ~tag)
    return z, x, y


def cell_parent_np(cell, steps: int = 1) -> np.ndarray:
    z, x, y = cell_decode_np(cell)
    return cell_id_np(z - steps, x >> steps, y >> steps)


def cell_ring_np(z: int, x: int, y: int, r: int) -> np.ndarray:
    """All cells at Chebyshev distance exactly r from (x, y) at zoom z,
    clamped at pyramid borders (scalar helper for kNN ring expansion)."""
    n = (1 << z) - 1
    if r == 0:
        return cell_id_np(np.array([z]), np.array([x]), np.array([y]))
    xs, ys = [], []
    for dx in range(-r, r + 1):
        for dy in range(-r, r + 1):
            if max(abs(dx), abs(dy)) != r:
                continue
            cx, cy = x + dx, y + dy
            if 0 <= cx <= n and 0 <= cy <= n:
                xs.append(cx)
                ys.append(cy)
    if not xs:
        return np.empty(0, dtype=np.int64)
    zz = np.full(len(xs), z, dtype=np.int64)
    return cell_id_np(zz, np.array(xs, dtype=np.int64), np.array(ys, dtype=np.int64))


# ---------------------------------------------------------------------------
# Column twins — JVM-side, oracle-parity arithmetic
# ---------------------------------------------------------------------------
# These use only +,-,*,/,floor,log,tan,radians so the identical ANSI SQL
# runs in DuckDB; transcendental-free variants preferred in oracles.


def merc_x_col(lon: Column) -> Column:
    return F.lit(R) * F.radians(lon)


def merc_y_col(lat: Column) -> Column:
    lat = F.least(F.lit(MAXLAT), F.greatest(F.lit(-MAXLAT), lat))
    return F.lit(R) * F.log(F.tan(F.lit(PI / 4.0) + F.radians(lat) / F.lit(2.0)))


def tile_x_col(mx: Column, z: int) -> Column:
    span = tile_span(z)
    n = (1 << z) - 1
    t = F.floor((mx + F.lit(W)) / F.lit(span))
    return F.least(F.lit(n), F.greatest(F.lit(0), t)).cast("bigint")


def tile_y_col(my: Column, z: int) -> Column:
    span = tile_span(z)
    n = (1 << z) - 1
    t = F.floor((F.lit(W) - my) / F.lit(span))
    return F.least(F.lit(n), F.greatest(F.lit(0), t)).cast("bigint")


def quantize_x_col(mx: Column, tx: Column, z: int, extent: int = DEFAULT_EXTENT) -> Column:
    """Half-away-from-zero rounding via floor(v+0.5) — valid because
    (mx-minx) >= 0 is not guaranteed in buffer, so use sign-split."""
    span = tile_span(z)
    minx = F.lit(-W) + tx.cast("double") * F.lit(span)
    v = (mx - minx) * F.lit(float(extent)) / F.lit(span)
    return _round_half_away_col(v)


def quantize_y_col(my: Column, ty: Column, z: int, extent: int = DEFAULT_EXTENT) -> Column:
    span = tile_span(z)
    maxy = F.lit(W) - ty.cast("double") * F.lit(span)
    v = (maxy - my) * F.lit(float(extent)) / F.lit(span)
    return _round_half_away_col(v)


def _round_half_away_col(v: Column) -> Column:
    # trunc + exact-fraction compare, matching round_half_away_np's
    # std::round parity (floor(v+0.5) pre-rounds near-half doubles)
    t = F.when(v >= 0, F.floor(v)).otherwise(F.ceil(v))
    frac = v - t  # exact in IEEE754
    bump = F.when(F.abs(frac) >= 0.5, F.signum(v)).otherwise(F.lit(0.0))
    return (t + bump).cast("bigint")


def cell_id_sql_expr(xcol: str, ycol: str, z: int) -> str:
    """ANSI-SQL Morton interleave for a FIXED zoom z — runs bit-exact in
    BOTH Spark SQL and DuckDB (no dialect-specific `//`/`div`): bit i of
    x is ((x % 2^(i+1)) - (x % 2^i)) / 2^i, so the interleaved term is
    ((x % 2^(i+1)) - (x % 2^i)) * 2^i (shift i -> 2i), y shifted one
    more. Pure integer +,-,*,%.
    """
    terms = [str(1 << (2 * z + 1))]
    for i in range(z):
        lo, hi = 1 << i, 1 << (i + 1)
        terms.append(f"((({xcol}) % {hi}) - (({xcol}) % {lo})) * {lo}")
        terms.append(f"((({ycol}) % {hi}) - (({ycol}) % {lo})) * {hi}")
    return "(" + " + ".join(terms) + ")"


# --- P3: mapnik scale denominators ------------------------------------------

OGC_PIXEL_M = 0.00028  # OGC 06-042 standardized rendering pixel (0.28 mm)


def scale_denominator(z: int, tile_size: int = 256) -> float:
    """mapnik/OGC scale denominator at zoom z: meters-per-pixel of the
    z-level grid divided by the standardized 0.28 mm pixel
    (mapnik scale_denominator(); 559082264.0287178 at z0/256px — the
    number every mapnik style's Min/MaxScaleDenominator compares
    against). Exact: 2W/2^z is a sequence of exact halvings, /256 is
    exact, and the single /0.00028 is one correctly-rounded division —
    so both engines produce the identical double."""
    return (2.0 * W / (1 << z)) / tile_size / OGC_PIXEL_M


def zoom_for_scale(denom: float, tile_size: int = 256, z_max: int = 30) -> int:
    """Smallest zoom whose scale denominator is <= ``denom`` (the
    zoom a style rule with MaxScaleDenominator=denom first becomes
    visible at); z_max when even the deepest level is coarser."""
    for z in range(z_max + 1):
        if scale_denominator(z, tile_size) <= denom:
            return z
    return z_max


def layer_visible(z: int, min_sd: float, max_sd: float,
                  tile_size: int = 256) -> bool:
    """The reference's P3 layer gate (vector_tile_processor.ipp layer
    loop): a layer renders at zoom z iff
    min_sd <= scale_denominator(z) < max_sd — min is inclusive, max
    exclusive, matching mapnik's rule evaluation."""
    sd = scale_denominator(z, tile_size)
    return min_sd <= sd < max_sd
