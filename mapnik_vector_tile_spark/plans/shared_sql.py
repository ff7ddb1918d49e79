"""Shared SQL templates: one arithmetic source of truth rendered for
BOTH Spark SQL and DuckDB, so the driver's value-hash compare sees
bit-identical doubles/ints.

Design rules (why these templates look the way they do):

* points are derived from TPC-H keys with pure +,-,*,% integer math and
  one float division — NO ln/tan in oracle paths, so libm differences
  between the JVM and DuckDB can never flip a floor() at a tile edge;
* every floor/round is wrapped in CAST(... AS BIGINT) because Spark's
  floor() returns BIGINT while DuckDB's returns DOUBLE;
* engine-specific syntax (sequence-explode, list lambdas, 0- vs 1-based
  array indexing) goes through the ``_SUBS`` token table.

Reference parity: the tile math here is A.1/A.2/A.3 of SURVEY.md —
the same formulas vector_tile_projection.hpp / vector_tile_strategy.hpp
implement natively.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from mapnik_vector_tile_spark.functions.tilemath import W

TWO_W = 2.0 * W


def flit(v: float) -> str:
    """Float literal that parses as DOUBLE in BOTH engines. Spark parses
    bare decimal literals as DECIMAL (different rounding!); scientific
    notation forces DOUBLE in Spark and DuckDB alike."""
    r = repr(float(v))
    return r if ("e" in r or "E" in r or "inf" in r or "nan" in r) else r + "e0"

# Engine-specific syntax tokens. Template strings use {tok} markers.
_SUBS = {
    "spark": {
        # cross-joinable single-column relation of z = 0..14
        "ZSEQ": "(SELECT explode(sequence(0, 14)) AS z)",
        # JSON path extraction of $.k as BIGINT (function names differ)
        "JSONK": "CAST(get_json_object(props, '$.k') AS BIGINT)",
    },
    "duckdb": {
        "ZSEQ": "(SELECT unnest(generate_series(0, 14)) AS z)",
        "JSONK": "CAST(json_extract_string(props, '$.k') AS BIGINT)",
    },
}


def render(template: str, engine: str) -> str:
    out = template
    for tok, val in _SUBS[engine].items():
        out = out.replace("{" + tok + "}", val)
    return out


def point_cte(
    table: str, key: str, idalias: str = "id", cte: str = "pts"
) -> str:
    """Deterministic mercator point from an integer key — a Weyl-style
    mix with pure integer arithmetic, then one exact float division.
    Matches synth.footprint semantics in spirit (uniform world cover);
    bit-exact across engines by construction."""
    return f"""
{cte} AS (
  SELECT {key} AS {idalias},
         (((({key}) * 2654435761) % 4294967296) / {flit(2**32)}) * {flit(TWO_W)} - {flit(W)} AS mx,
         (((({key}) * 1103515245 + 12345) % 4294967296) / {flit(2**32)}) * {flit(TWO_W)} - {flit(W)} AS my
  FROM {table}
)"""


def tile_xy_exprs(z: int, mx: str = "mx", my: str = "my") -> tuple[str, str]:
    """floor((mx+W)/span), floor((W-my)/span) — A.2 point assignment.
    Inputs are strictly inside (-W, W) by point_cte construction, so no
    clamp branch is needed (keeps the SQL identical and simple)."""
    span = TWO_W / (1 << z)
    tx = f"CAST(floor((({mx}) + {flit(W)}) / {flit(span)}) AS BIGINT)"
    ty = f"CAST(floor(({flit(W)} - ({my})) / {flit(span)}) AS BIGINT)"
    return tx, ty


def round_half_up_nonneg(q: str) -> str:
    """Exact std::round for v >= 0: floor + exact-fraction compare.
    floor(v + 0.5) is NOT std::round — the addition rounds
    0.49999999999999994 (largest double < 0.5) up to 1.0 before the
    floor; v - floor(v) is exact in IEEE754, so this form matches the
    C++ reference (and round_half_away_np) bit-for-bit."""
    return (
        f"CAST(floor({q}) + (CASE WHEN ({q}) - floor({q}) >= 0.5e0"
        f" THEN 1 ELSE 0 END) AS BIGINT)"
    )


def quantize_exprs(
    z: int, tx: str, ty: str, mx: str = "mx", my: str = "my", extent: int = 4096
) -> tuple[str, str]:
    """A.3 world->tile-local ints. v >= 0 inside the unbuffered tile,
    so half-away-from-zero == round_half_up_nonneg here."""
    span = TWO_W / (1 << z)
    qx = (
        f"((({mx}) - (-{flit(W)} + CAST({tx} AS DOUBLE) * {flit(span)}))"
        f" * {flit(extent)} / {flit(span)})"
    )
    qy = (
        f"((({flit(W)} - CAST({ty} AS DOUBLE) * {flit(span)}) - ({my}))"
        f" * {flit(extent)} / {flit(span)})"
    )
    return round_half_up_nonneg(qx), round_half_up_nonneg(qy)


def hex_cell_cte(
    size: float, src: str = "pts", cte: str = "hex", idcol: str = "id"
) -> str:
    """Axial hex binning (pointy-top, circumradius ``size`` meters in
    mercator space) with cube rounding — the planar analog of an H3
    gridCell assignment (the north_star's "H3" half; our spherical
    half is functions/cellid.py). One shared template for both
    engines, so the fractional math and every tie-breaking CASE branch
    evaluate on identical doubles → identical cells by construction
    (same argument as the rest of this module; no libm calls — sqrt(3)
    is a compile-time Python literal).

    Cube-round reference: the standard axial/cube hex-grid algorithm
    (Red Blob Games formulation, public): round each cube coordinate,
    then repair the one with the largest rounding error so
    rx+ry+rz == 0. round() here is floor(v+0.5) — engine-identical,
    half-toward-+inf; this is a NEW operator (no reference
    counterpart), so no external rounding convention to match.
    """
    sqrt3_3 = flit(3.0**0.5 / 3.0)
    third = flit(1.0 / 3.0)
    two_thirds = flit(2.0 / 3.0)
    s = flit(size)
    rnd = "CAST(floor(({v}) + 0.5e0) AS BIGINT)"
    return f"""
hxf AS (
  SELECT {idcol},
         ({sqrt3_3} * mx - {third} * my) / {s} AS qf,
         ({two_thirds} * my) / {s} AS rf
  FROM {src}
),
hxr AS (
  SELECT {idcol}, qf, rf, -qf - rf AS yf,
         {rnd.format(v='qf')} AS rx,
         {rnd.format(v='-qf - rf')} AS ry,
         {rnd.format(v='rf')} AS rz
  FROM hxf
),
{cte} AS (
  SELECT {idcol},
         CASE WHEN abs(rx - qf) > abs(ry - yf) AND abs(rx - qf) > abs(rz - rf)
              THEN -ry - rz ELSE rx END AS hq,
         CASE WHEN (abs(rx - qf) > abs(ry - yf) AND abs(rx - qf) > abs(rz - rf))
                OR abs(ry - yf) > abs(rz - rf)
              THEN rz ELSE -rx - ry END AS hr
  FROM hxr
)"""


HEX_RING1 = """
nb AS (
  SELECT 0 AS dq, 0 AS dr UNION ALL SELECT 1, 0 UNION ALL
  SELECT 1, -1 UNION ALL SELECT 0, -1 UNION ALL SELECT -1, 0 UNION ALL
  SELECT -1, 1 UNION ALL SELECT 0, 1
)"""


def zigzag_expr(n: str) -> str:
    """Arithmetic zigzag (F4) — no shifts, engine-portable."""
    return f"CAST(CASE WHEN ({n}) >= 0 THEN ({n}) * 2 ELSE -(({n}) * 2) - 1 END AS BIGINT)"


def ancestor_expr(t: str, dz: str) -> str:
    """tile coord at z-dz levels up: floor(t / 2^dz) via exact integer
    arithmetic (t - t%p)/p, p from power() (exact for 2^k)."""
    p = f"CAST(power(2.0, {dz}) AS BIGINT)"
    return f"CAST((({t}) - (({t}) % {p})) / {p} AS BIGINT)"


# ---------------------------------------------------------------------------
# Rect regions derived from the nation table (J3/J4 oracle side):
# 25 deterministic axis-aligned mercator rectangles.
# ---------------------------------------------------------------------------


def rect_regions_cte(table: str = "nation") -> str:
    """Rectangles spread over the world, size varying by key — pure
    arithmetic from n_nationkey so Spark and DuckDB build identical
    boxes."""
    return f"""
rects AS (
  SELECT n_nationkey AS region_id,
         ((((n_nationkey * 2654435761) % 4294967296) / {flit(2**32)}) * {flit(TWO_W)} - {flit(W)}) AS cx,
         ((((n_nationkey * 40503 + 7) % 65536) / {flit(65536)}) * {flit(TWO_W)} - {flit(W)}) AS cy,
         ({flit(500000)} + (n_nationkey % 7) * {flit(400000)}) AS hw
  FROM {table}
)"""


# ---------------------------------------------------------------------------
# Shared by the oracle families and the bench queries: the fixture
# views, the points-in-rectangles join and the splitmix64 row hash.
# ---------------------------------------------------------------------------


TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents"
).split()


def load_views(spark: SparkSession, sf_dir: str) -> None:
    for t in TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)


def bbox_rect_join_sql() -> str:
    """Range join: order points vs broadcast-size rectangle regions —
    the SQL-expressible shape of J3 (PIP vs rects).

    Boundary semantics: this oracle is closed (<=/>=) while the engine
    refine's even-odd ray cast is half-open. They can only disagree
    for a point EXACTLY on a rect edge, which requires
    (dh/2^32)*2W == hw in exact double arithmetic — the hash-lattice
    coordinates and the integer-meter hw values share no such point
    (checked over the fixtures), so the pair is stable; revisit if
    either generator changes."""
    return f"""
WITH {point_cte('orders', 'o_orderkey')},
{rect_regions_cte('nation')}
SELECT r.region_id, COUNT(*) AS n_pts, MIN(p.id) AS min_id
FROM pts p
JOIN rects r
  ON p.mx >= r.cx - r.hw AND p.mx <= r.cx + r.hw
 AND p.my >= r.cy - r.hw AND p.my <= r.cy + r.hw
GROUP BY 1
"""


_M64 = "18446744073709551616"  # 2^64


_M32 = "4294967296"


def _xor64(a: str, b: str) -> str:
    """XOR of two HUGEINT values < 2^64 via BIGINT halves."""
    return (
        f"(CAST(xor(CAST(({a}) // {_M32} AS BIGINT),"
        f" CAST(({b}) // {_M32} AS BIGINT)) AS HUGEINT) * {_M32}"
        f" + xor(CAST(({a}) % {_M32} AS BIGINT),"
        f" CAST(({b}) % {_M32} AS BIGINT)))"
    )


def _mul64(a: str, c: int) -> str:
    """(a * c) mod 2^64 for HUGEINT a < 2^64, constant c — 32-bit limb
    split keeps every intermediate < 2^96 (inside HUGEINT)."""
    cl = c % 2**32
    ch = c >> 32
    return (
        f"((({a}) * {cl} + (((({a}) % {_M32}) * {ch}) % {_M32})"
        f" * {_M32}) % {_M64})"
    )


def splitmix64_sql(x: str) -> str:
    """The synth corpus's committed mixing function (synth.splitmix64)
    rendered as DuckDB SQL — bit-exact (tests pin [0, 200000)).

    Emitted as a chained SCALAR SUBQUERY, not one flat expression:
    textually inlining each mixing stage into the next duplicates
    subexpressions ×2-4 per stage (×~256 for the base hash — a 36 KB
    expression, ~22 µs/row), while the subquery chain computes each
    stage ONCE into a column the next stage references (~1 KB, ~10×
    faster; DuckDB decorrelates it into projections).  Same value,
    usable in any expression position."""
    z0 = f"((CAST({x} AS HUGEINT) + 11400714819323198485) % {_M64})"
    return (
        "(SELECT "
        + _xor64("z4", "z4 // 2147483648")  # >> 31
        + " FROM (SELECT "
        + _mul64("z3", 0x94D049BB133111EB)
        + " AS z4 FROM (SELECT "
        + _xor64("z2", "z2 // 134217728")  # >> 27
        + " AS z3 FROM (SELECT "
        + _mul64("z1", 0xBF58476D1CE4E5B9)
        + " AS z2 FROM (SELECT "
        + _xor64("z0", "z0 // 1073741824")  # >> 30
        + f" AS z1 FROM (SELECT {z0} AS z0))))))"
    )
