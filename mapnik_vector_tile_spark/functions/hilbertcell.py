"""Hilbert-curve cell index — the fourth cell addressing scheme
beside Morton/quadkey (`functions/tilemath.py`), S2-style
(`functions/cellid.py`), hex (`functions/hexcell.py`) and geohash
(`functions/geohash.py`).  Hilbert order is what PMTiles directories
and S2 proper use for range locality: unlike Morton, every step of
the curve is a unit step on the grid, so 1-D range scans touch
spatially contiguous cells with no diagonal jumps.

The per-level rotate/flip recurrence (the classic Wikipedia xy2d,
identical to sources/pmtiles.zxy_to_tileid) is generated from ONE
spec into BOTH engines' SQL: z chained
subselects, each a pure-integer CASE layer — no UDF, no shuffle, one
codegen projection on the Spark side.  Only integer-division syntax
differs (`DIV` vs `//`), parameterized per engine.
"""

from __future__ import annotations

import numpy as np


def hilbert_d(z: int, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Vectorized numpy twin of the SQL chain: Hilbert index of
    (x, y) on the 2^z grid."""
    x = np.asarray(x, dtype=np.int64).copy()
    y = np.asarray(y, dtype=np.int64).copy()
    d = np.zeros_like(x)
    n = 1 << z
    s = n >> 1
    while s > 0:
        rx = ((x // s) % 2).astype(np.int64)
        ry = ((y // s) % 2).astype(np.int64)
        d += s * s * np.where(rx == 1, 3 - ry, ry)
        # canonical rotation flips against the FULL grid (n-1-x), so
        # coordinates stay in [0, n) — load-bearing for the SQL twin,
        # where a negative intermediate would hit truncating // and %
        flip = ry == 0
        xf = np.where(rx == 1, n - 1 - x, x)
        yf = np.where(rx == 1, n - 1 - y, y)
        x2 = np.where(flip, yf, x)
        y2 = np.where(flip, xf, y)
        x, y = x2, y2
        s >>= 1
    return d


def hilbert_sql(
    z: int,
    src: str,
    engine: str,
    keep: str = "id",
    x_col: str = "cx",
    y_col: str = "cy",
) -> str:
    """Render the z-level Hilbert recurrence as chained subselects for
    `engine` in {'spark', 'duckdb'} over relation `src`; emits the
    passthrough columns `keep`, the inputs, and `hd`."""
    if engine == "spark":
        def dv(a: str, b: int) -> str:
            return f"(({a}) DIV {b})"
    elif engine == "duckdb":
        def dv(a: str, b: int) -> str:
            return f"(({a}) // {b})"
    else:
        raise ValueError(f"unknown engine {engine!r}")
    # level-indexed names: both engines support lateral column aliases,
    # so reusing one name per layer would silently bind the second
    # expression to the NEW alias instead of the inner column
    n = 1 << z
    q = (
        f"SELECT {keep}, {x_col}, {y_col}, CAST({x_col} AS BIGINT) AS hx0,"
        f" CAST({y_col} AS BIGINT) AS hy0, CAST(0 AS BIGINT) AS hd0"
        f" FROM {src}"
    )
    s = 1 << (z - 1)
    k = 0
    while s > 0:
        hx, hy, hd = f"hx{k}", f"hy{k}", f"hd{k}"
        rx = f"({dv(hx, s)} % 2)"
        ry = f"({dv(hy, s)} % 2)"
        k += 1
        q = (
            f"SELECT {keep}, {x_col}, {y_col},"
            f" CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1"
            f" THEN {n - 1} - {hy} ELSE {hy} END) ELSE {hx} END AS hx{k},"
            f" CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1"
            f" THEN {n - 1} - {hx} ELSE {hx} END) ELSE {hy} END AS hy{k},"
            f" {hd} + {s * s} * (CASE WHEN {rx} = 1 THEN 3 - {ry}"
            f" ELSE {ry} END) AS hd{k}"
            f" FROM ({q})"
        )
        s >>= 1
    return f"SELECT {keep}, {x_col}, {y_col}, hd{k} AS hd FROM ({q})"
