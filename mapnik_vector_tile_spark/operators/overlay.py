"""Grouped constructive polygon union — SURVEY.md F12/U12 (round 2).

Reference parity: wagyu's union op inside the reference's polygon
clipper (src/vector_tile_geometry_clipper.hpp polygon overloads /
mapbox::geometry::wagyu multi_polygon_union). `joins.dissolve_polygons`
ships the GROUPING half (which polygons merge); this operator is the
CONSTRUCTIVE half — the merged boundary itself, per group, via the
planar-overlay kernel in functions/overlay.py.

Scale shape: ONE groupBy shuffle on the group key, then a pure
Arrow-batched applyInPandas kernel — per-group geometry is tile-local
small (the same size regime the encode kernel already handles), and
parallelism comes from the number of groups, which at 10^12-row scale
is the tile/cluster count. No driver collect, no cross-group traffic.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from mapnik_vector_tile_spark.functions.overlay import (
    ring_area2,
    union_rings,
    union_stats,
)

_RINGS_SCHEMA = StructType(
    [
        StructField("g", LongType()),
        StructField("ring_idx", LongType()),
        StructField("role", LongType()),  # 1 = exterior, -1 = hole
        StructField("area2", DoubleType()),
        StructField("xs", ArrayType(DoubleType())),
        StructField("ys", ArrayType(DoubleType())),
    ]
)

_STATS_SCHEMA = StructType(
    [
        StructField("g", LongType()),
        StructField("area2", LongType()),
        StructField("perim", LongType()),
        StructField("n_vert", LongType()),
        StructField("euler", LongType()),
        StructField("vhash", LongType()),
    ]
)


def _rings_of(pdf: pd.DataFrame) -> list[tuple[np.ndarray, np.ndarray]]:
    return [
        (np.asarray(xs, dtype=np.float64), np.asarray(ys, dtype=np.float64))
        for xs, ys in zip(pdf["xs"], pdf["ys"])
    ]


def union_polygons(
    df: DataFrame, group_col: str = "g"
) -> DataFrame:
    """Per-group nonzero-fill union. Input rows are RINGS
    (group_col, xs: array<double>, ys: array<double>) — exteriors CCW,
    holes CW, wagyu's convention. Output rows are the union's simple
    boundary rings (exteriors CCW positive area, holes CW negative),
    canonically ordered so equal regions are bit-identical."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        g = int(pdf[group_col].iloc[0])
        out = union_rings(_rings_of(pdf))
        res = pd.DataFrame(
            {
                "g": np.full(len(out), g, dtype=np.int64),
                "ring_idx": np.arange(len(out), dtype=np.int64),
                "role": np.asarray(
                    [1 if ring_area2(*r) > 0 else -1 for r in out],
                    dtype=np.int64,
                ),
                "area2": np.asarray(
                    [ring_area2(*r) for r in out], dtype=np.float64
                ),
            }
        )
        # assign as object Series: an empty [] column otherwise defaults
        # to float64 dtype, which Arrow can't convert to list<double>
        res["xs"] = pd.Series(
            [list(map(float, r[0])) for r in out], dtype=object
        )
        res["ys"] = pd.Series(
            [list(map(float, r[1])) for r in out], dtype=object
        )
        return res

    return (
        df.select(F.col(group_col).alias(group_col), "xs", "ys")
        .groupBy(group_col)
        .applyInPandas(kernel, _RINGS_SCHEMA)
    )


def union_polygon_stats(
    df: DataFrame, group_col: str = "g"
) -> DataFrame:
    """Per-group integer union summary for rectilinear-integer rings:
    (area2, manhattan perimeter, n_vertices, n_ext − n_hole, vertex
    multiset hash) — every column exactly replayable by the DuckDB
    grid twin (see plans/oracles/geometry.q_polygon_union)."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        g = int(pdf[group_col].iloc[0])
        area2, perim, n_vert, euler, vhash = union_stats(_rings_of(pdf))
        return pd.DataFrame(
            {
                "g": [g],
                "area2": [area2],
                "perim": [perim],
                "n_vert": [n_vert],
                "euler": [euler],
                "vhash": [vhash],
            }
        ).astype(np.int64)

    return (
        df.select(F.col(group_col).alias(group_col), "xs", "ys")
        .groupBy(group_col)
        .applyInPandas(kernel, _STATS_SCHEMA)
    )


_BOOL_SCHEMA = StructType(
    [
        StructField("g", LongType()),
        StructField("op", LongType()),  # 0=intersection 1=difference 2=xor
        StructField("area2", LongType()),
        StructField("perim", LongType()),
        StructField("n_vert", LongType()),
        StructField("euler", LongType()),
        StructField("vhash", LongType()),
    ]
)

BOOL_OP_IDS = {"intersection": 0, "difference": 1, "xor": 2}


def boolean_polygon_stats(
    df: DataFrame, group_col: str = "g", side_col: str = "side"
) -> DataFrame:
    """Per-group two-set boolean overlay summary — the full
    wagyu/Clipper op family beyond union (intersection is the
    reference clipper's polygon∩clip operation generalized to
    arbitrary clip shapes). Input rows are RINGS
    (group_col, side_col ∈ {0=A, 1=B}, xs, ys); output is one row per
    (group, op) with the same integer stats as union_polygon_stats.
    Same scale shape: one groupBy shuffle + per-group Arrow kernel."""
    from mapnik_vector_tile_spark.functions.overlay import boolean_stats

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        g = int(pdf[group_col].iloc[0])
        a = _rings_of(pdf[pdf[side_col] == 0])
        b = _rings_of(pdf[pdf[side_col] == 1])
        rows = []
        for op, op_id in BOOL_OP_IDS.items():
            area2, perim, n_vert, euler, vhash = boolean_stats(a, b, op)
            rows.append((g, op_id, area2, perim, n_vert, euler, vhash))
        return pd.DataFrame(
            rows,
            columns=["g", "op", "area2", "perim", "n_vert", "euler", "vhash"],
        ).astype(np.int64)

    return (
        df.select(group_col, side_col, "xs", "ys")
        .groupBy(group_col)
        .applyInPandas(kernel, _BOOL_SCHEMA)
    )


def dissolve_boundaries(polys: DataFrame, z: int = 6) -> DataFrame:
    """U12 COMPLETE dissolve — wagyu multi_polygon_union end-to-end:
    `joins.dissolve_polygons` finds the transitive merge groups, then
    this operator unions each group's geometry into its merged simple
    boundary rings. Input is the regions shape (region_id, xs, ys,
    ring_offsets — exteriors CCW, holes CW); output is
    (g = group rep region_id, ring_idx, role, area2, xs, ys).

    Scale shape: the dissolve half is the exact J9 cell-cover
    self-join + pointer-doubling CC (never all-pairs); the
    constructive half adds ONE groupBy shuffle of the ring rows and a
    per-group Arrow kernel — group geometry is cluster-local small."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators.joins import dissolve_polygons

    groups = dissolve_polygons(polys, z=z)
    # explode multi-ring polygons into per-ring rows: slice (xs, ys)
    # by adjacent ring_offsets pairs — pure Column lambdas, no UDF
    n_off = F.size("ring_offsets")
    ring_ix = F.sequence(F.lit(0), n_off - F.lit(2))
    ringed = (
        polys.join(groups, "region_id")
        .withColumn("ri", F.explode(ring_ix))
        .select(
            F.col("group").alias("g"),
            F.slice(
                "xs",
                F.element_at("ring_offsets", F.col("ri") + 1) + 1,
                F.element_at("ring_offsets", F.col("ri") + 2)
                - F.element_at("ring_offsets", F.col("ri") + 1),
            ).alias("xs"),
            F.slice(
                "ys",
                F.element_at("ring_offsets", F.col("ri") + 1) + 1,
                F.element_at("ring_offsets", F.col("ri") + 2)
                - F.element_at("ring_offsets", F.col("ri") + 1),
            ).alias("ys"),
        )
    )
    return union_polygons(ringed, "g")


def rect_rings(df: DataFrame, extra: tuple[str, ...] = ()) -> DataFrame:
    """(g, x0, y0, w, ht) integer rectangles → CCW ring rows
    (g, *extra, xs, ys) — pure Column math, no UDF."""
    dx = F.col("x0").cast("double")
    dy = F.col("y0").cast("double")
    dw = F.col("w").cast("double")
    dh = F.col("ht").cast("double")
    return df.select(
        "g",
        *extra,
        F.array(dx, dx + dw, dx + dw, dx).alias("xs"),
        F.array(dy, dy, dy + dh, dy + dh).alias("ys"),
    )


_HULL_SCHEMA = StructType(
    [
        StructField("g", LongType()),
        StructField("n_pts", LongType()),
        StructField("n_hull", LongType()),
        StructField("area2", LongType()),
        StructField("perim", LongType()),
        StructField("vhash", LongType()),
    ]
)


def convex_hull_stats(df: DataFrame, group_col: str = "g") -> DataFrame:
    """Per-group convex hull summary (functions/overlay.hull_stats —
    monotone-chain, strict turns, CCW). Input rows are POINTS
    (group_col, x, y integer). One groupBy shuffle, per-group Arrow
    kernel; hull-of-cluster is the canonical footprint summary for
    dissolve groups / dedup clusters of image positions."""
    from mapnik_vector_tile_spark.functions.overlay import hull_stats

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        g = int(pdf[group_col].iloc[0])
        xs = pdf["x"].to_numpy(dtype=np.int64)
        ys = pdf["y"].to_numpy(dtype=np.int64)
        n_pts, n_hull, area2, perim, vhash = hull_stats(xs, ys)
        return pd.DataFrame(
            [(g, n_pts, n_hull, area2, perim, vhash)],
            columns=["g", "n_pts", "n_hull", "area2", "perim", "vhash"],
        ).astype(np.int64)

    return (
        df.select(group_col, "x", "y")
        .groupBy(group_col)
        .applyInPandas(kernel, _HULL_SCHEMA)
    )


_LMERGE_SCHEMA = StructType(
    [
        StructField("g", LongType()),
        StructField("n_segs", LongType()),
        StructField("n_chains", LongType()),
        StructField("n_rings", LongType()),
        StructField("mlen", LongType()),
        StructField("jhash", LongType()),
    ]
)


def merge_lines_stats(df: DataFrame, group_col: str = "g") -> DataFrame:
    """Per-group line merge (functions/overlay.line_graph_stats — JTS
    LineMerger semantics: stitch segments where exactly two ends meet,
    break at tips/junctions, count pure-cycle rings). Input rows are
    SEGMENTS (group_col, x1, y1, x2, y2 integer). One groupBy shuffle,
    per-group vectorized kernel — road-network merging shape."""
    from mapnik_vector_tile_spark.functions.overlay import line_graph_stats

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        g = int(pdf[group_col].iloc[0])
        stats = line_graph_stats(
            pdf["x1"].to_numpy(np.int64),
            pdf["y1"].to_numpy(np.int64),
            pdf["x2"].to_numpy(np.int64),
            pdf["y2"].to_numpy(np.int64),
        )
        return pd.DataFrame(
            [(g, *stats)],
            columns=["g", "n_segs", "n_chains", "n_rings", "mlen", "jhash"],
        ).astype(np.int64)

    return (
        df.select(group_col, "x1", "y1", "x2", "y2")
        .groupBy(group_col)
        .applyInPandas(kernel, _LMERGE_SCHEMA)
    )


_MORPH_SCHEMA = StructType(
    [
        StructField("g", LongType()),
        StructField("op", LongType()),  # 0=dilate 1=erode 2=open 3=close
        StructField("area2", LongType()),
        StructField("perim", LongType()),
        StructField("n_vert", LongType()),
        StructField("euler", LongType()),
        StructField("vhash", LongType()),
    ]
)

MORPH_OP_IDS = {"dilate": 0, "erode": 1, "open": 2, "close": 3}


def morphology_polygon_stats(
    df: DataFrame, group_col: str = "g", radius_col: str = "rr"
) -> DataFrame:
    """Per-group morphological buffer summary — Chebyshev
    dilate/erode/open/close at the group's integer radius (the
    ST_Buffer(+r)/ST_Buffer(-r) analog with square caps/joins, plus
    the sliver-dropping opening and gap-filling closing built from
    them). Input rows are RINGS (group_col, radius_col, xs, ys); one
    row out per (group, op) with the overlay grid stats. Same scale
    shape as the other overlay ops: one groupBy shuffle, per-group
    Arrow kernel."""
    from mapnik_vector_tile_spark.functions.overlay import morphology_stats

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        g = int(pdf[group_col].iloc[0])
        rr = int(pdf[radius_col].iloc[0])
        rings = _rings_of(pdf)
        rows = []
        for op, op_id in MORPH_OP_IDS.items():
            area2, perim, n_vert, euler, vhash = morphology_stats(
                rings, rr, op
            )
            rows.append((g, op_id, area2, perim, n_vert, euler, vhash))
        return pd.DataFrame(
            rows,
            columns=["g", "op", "area2", "perim", "n_vert", "euler", "vhash"],
        ).astype(np.int64)

    return (
        df.select(group_col, radius_col, "xs", "ys")
        .groupBy(group_col)
        .applyInPandas(kernel, _MORPH_SCHEMA)
    )


def triangulate_stats(polys: DataFrame) -> DataFrame:
    """U13 polygon tessellation — per-polygon ear-clipping
    triangulation (functions/earcut.py; the mapbox/earcut step every
    GPU renderer applies to MVT polygons) reduced to the exact
    aggregates a value-hash oracle can pin: triangle count, summed
    triangle area2 (== ring shoelace area2, the tessellation
    invariant), and an order-sensitive triple hash of the exact clip
    sequence.

    Input rows are independent simple CCW rings (pid, xs, ys) — so
    this is a NARROW mapInPandas projection: no grouping, no shuffle,
    scales linearly with input splits.  The per-ring Python loop is
    bounded by ring length (tile rings are short post-simplification;
    same precedent as the label-placement kernel)."""
    from mapnik_vector_tile_spark.functions.earcut import (
        triangulation_stats,
    )

    def kernel(it):
        for pdf in it:
            if not len(pdf):
                continue
            out = {"pid": [], "n_pts": [], "n_tris": [], "area2": [],
                   "trih": []}
            for pid, xs, ys in zip(pdf["pid"], pdf["xs"], pdf["ys"]):
                n_tris, area2, trih = triangulation_stats(
                    [int(v) for v in xs], [int(v) for v in ys]
                )
                out["pid"].append(int(pid))
                out["n_pts"].append(len(xs))
                out["n_tris"].append(n_tris)
                out["area2"].append(area2)
                out["trih"].append(trih)
            yield pd.DataFrame(out).astype(np.int64)

    return polys.select("pid", "xs", "ys").mapInPandas(
        kernel,
        "pid long, n_pts long, n_tris long, area2 long, trih long",
    )


def triangulate_holed_stats(polys: DataFrame) -> DataFrame:
    """U13 with holes — the mapbox-earcut eliminateHoles step
    (functions/earcut.eliminate_holes: rightmost-anchor bridge
    order, exact-rational ray/sector choice, duplicate-sector
    disambiguation) followed by the same ear clip, reduced to the
    hashable aggregates.  area2 lands on shoelace(outer) − Σ holes
    by construction — the invariant the oracle pins.

    Input: (pid, xs, ys, hxs: array<array<long>>, hys) — outer CCW,
    holes CW.  Same NARROW mapInPandas shape as triangulate_stats:
    no shuffle, linear in splits."""
    from mapnik_vector_tile_spark.functions.earcut import (
        triangulation_stats_holed,
    )

    def kernel(it):
        for pdf in it:
            if not len(pdf):
                continue
            out = {"pid": [], "n_holes": [], "n_pts": [],
                   "n_tris": [], "area2": [], "trih": []}
            for pid, xs, ys, hxs, hys in zip(
                pdf["pid"], pdf["xs"], pdf["ys"], pdf["hxs"], pdf["hys"]
            ):
                holes = [
                    ([int(v) for v in hx], [int(v) for v in hy])
                    for hx, hy in zip(hxs, hys)
                ]
                n_pts, n_tris, area2, trih = triangulation_stats_holed(
                    [int(v) for v in xs], [int(v) for v in ys], holes
                )
                out["pid"].append(int(pid))
                out["n_holes"].append(len(holes))
                out["n_pts"].append(n_pts)
                out["n_tris"].append(n_tris)
                out["area2"].append(area2)
                out["trih"].append(trih)
            yield pd.DataFrame(out).astype(np.int64)

    return polys.select("pid", "xs", "ys", "hxs", "hys").mapInPandas(
        kernel,
        "pid long, n_holes long, n_pts long, n_tris long,"
        " area2 long, trih long",
    )
