"""S2-style cell encoding (functions.cellid): face coverage, ST
monotonicity, parent containment, locality, and numpy↔SQL twin parity
via DuckDB."""

import duckdb
import numpy as np

from mapnik_vector_tile_spark.functions import cellid as C

LEVEL = 10


def _grid_points(n=40):
    lon = np.linspace(-np.pi + 1e-6, np.pi - 1e-6, n)
    lat = np.linspace(-1.45, 1.45, n)
    LO, LA = np.meshgrid(lon, lat)
    mx = LO.ravel() * C.R_EARTH
    my = np.log(np.tan(np.pi / 4 + LA.ravel() / 2)) * C.R_EARTH
    return mx, my


def test_all_faces_reached():
    mx, my = _grid_points()
    cells = C.s2_cell_np(mx, my, LEVEL)
    faces = cells >> (2 * LEVEL)
    assert set(faces.tolist()) == {0, 1, 2, 3, 4, 5}


def test_cell_range_and_parent():
    mx, my = _grid_points()
    cells = C.s2_cell_np(mx, my, LEVEL)
    assert (cells >= 0).all() and (cells < 6 * 4**LEVEL).all()
    p5 = C.s2_parent_np(cells, LEVEL, 5)
    # parent at the same level is identity; parent preserves face
    assert (C.s2_parent_np(cells, LEVEL, LEVEL) == cells).all()
    assert ((p5 >> (2 * 5)) == (cells >> (2 * LEVEL))).all()
    # deeper quantization refines the same parent
    c5 = C.s2_cell_np(mx, my, 5)
    assert (p5 == c5).all()


def test_locality_nearby_points_share_parents():
    # points 0.01 deg apart should overwhelmingly share a level-5 parent
    rng = np.random.default_rng(7)
    lon = rng.uniform(-170, 170, 500)
    lat = rng.uniform(-80, 80, 500)
    mxa = np.radians(lon) * C.R_EARTH
    mya = np.log(np.tan(np.pi / 4 + np.radians(lat) / 2)) * C.R_EARTH
    mxb = np.radians(lon + 0.01) * C.R_EARTH
    ca = C.s2_cell_np(mxa, mya, 5)
    cb = C.s2_cell_np(mxb, mya, 5)
    assert (ca == cb).mean() > 0.95


def test_sql_twin_bit_exact():
    mx, my = _grid_points(25)
    want = C.s2_cell_np(mx, my, LEVEL)
    face, i, j = C.s2_cell_sql("mx", "my", LEVEL)
    morton = C.morton_sql("ii", "jj", LEVEL)
    con = duckdb.connect()
    con.register(
        "pts",
        __import__("pandas").DataFrame({"mx": mx, "my": my}),
    )
    got = con.execute(
        f"WITH s AS (SELECT mx, my, {face} AS face, {i} AS ii, {j} AS jj FROM pts) "
        f"SELECT CAST(face AS BIGINT) * {1 << (2 * LEVEL)} + ({morton}) FROM s"
    ).fetchnumpy()
    got = next(iter(got.values())).astype(np.int64)
    assert (got == want).all()


# --- planar hex cells (functions/hexcell.py) -------------------------------


def test_hex_cell_is_nearest_center():
    """Definitive hex property: the assigned cell's center is the
    nearest center among the cell and its ring-1 neighbors."""
    from mapnik_vector_tile_spark.functions import hexcell as HX

    rng = np.random.default_rng(11)
    size = 1000.0
    mx = rng.uniform(-2e7, 2e7, 4000)
    my = rng.uniform(-2e7, 2e7, 4000)
    hq, hr = HX.hex_cell(mx, my, size)
    cx, cy = HX.hex_center(hq, hr, size)
    d0 = (mx - cx) ** 2 + (my - cy) ** 2
    for dq, dr in HX.RING1[1:]:
        nx, ny = HX.hex_center(hq + dq, hr + dr, size)
        dn = (mx - nx) ** 2 + (my - ny) ** 2
        # strict inequality up to fp wobble exactly on an edge
        assert (d0 <= dn * (1 + 1e-12)).all()


def test_hex_sql_twin_bit_exact():
    """numpy kernel == the shared SQL template (DuckDB side), incl.
    the cube-round repair branches."""
    import pandas as pd

    from mapnik_vector_tile_spark.functions import hexcell as HX
    from mapnik_vector_tile_spark.plans import shared_sql as S

    rng = np.random.default_rng(13)
    size = 313086.067
    mx = rng.uniform(-2e7, 2e7, 5000)
    my = rng.uniform(-2e7, 2e7, 5000)
    # adversarial: points ON cell-center rows/edges hit the repair ties
    mx[:100] = np.linspace(-1e6, 1e6, 100)
    my[:100] = 0.0
    hq, hr = HX.hex_cell(mx, my, size)
    con = duckdb.connect()
    con.register("p", pd.DataFrame({"id": np.arange(mx.size), "mx": mx, "my": my}))
    got = con.execute(
        f"WITH src AS (SELECT id, mx, my FROM p),\n"
        f"{S.hex_cell_cte(size, src='src')}\n"
        f"SELECT hq, hr FROM hex ORDER BY id"
    ).fetchnumpy()
    assert (got["hq"].astype(np.int64) == hq).all()
    assert (got["hr"].astype(np.int64) == hr).all()


def test_quadkey_known_vectors_and_roundtrip(spark):
    import pandas as pd

    from mapnik_vector_tile_spark.functions.cellid import (
        quadkey_col,
        quadkey_parse_cols,
    )

    # Bing documentation example: tile (3, 5) at level 3 -> "213"
    rows = [(3, 5), (0, 0), (7, 7), (1, 0), (0, 1)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["x", "y"])
    ).withColumn("quadkey", quadkey_col(3))
    got = {(r["x"], r["y"]): r["quadkey"] for r in df.collect()}
    assert got[(3, 5)] == "213"
    assert got[(0, 0)] == "000"
    assert got[(7, 7)] == "333"
    assert got[(1, 0)] == "001"
    assert got[(0, 1)] == "002"
    px, py = quadkey_parse_cols("quadkey", 3)
    back = df.select("x", "y", px.alias("px"), py.alias("py")).collect()
    for r in back:
        assert (r["px"], r["py"]) == (r["x"], r["y"])


def test_hilbert_pmtiles_parity_and_unit_steps():
    import numpy as np

    from mapnik_vector_tile_spark.functions.hilbertcell import hilbert_d
    from mapnik_vector_tile_spark.sources.pmtiles import zxy_to_tileid

    z = 5
    n = 1 << z
    xs, ys = np.meshgrid(np.arange(n), np.arange(n))
    xs, ys = xs.ravel(), ys.ravel()
    d = hilbert_d(z, xs, ys)
    # bijection onto [0, 4^z)
    assert sorted(d.tolist()) == list(range(n * n))
    # identical to the PMTiles spec tile ids (minus the pyramid offset)
    acc = ((1 << (2 * z)) - 1) // 3
    ref = np.array(
        [zxy_to_tileid(z, int(x), int(y)) - acc for x, y in zip(xs, ys)]
    )
    assert (d == ref).all()
    # the defining Hilbert property: consecutive curve positions are
    # 4-adjacent grid cells (Morton fails this on every 2^k boundary)
    order = np.argsort(d)
    steps = np.abs(np.diff(xs[order])) + np.abs(np.diff(ys[order]))
    assert (steps == 1).all()


def test_hilbert_sql_generator_engines_agree():
    import duckdb

    from mapnik_vector_tile_spark.functions.hilbertcell import (
        hilbert_d,
        hilbert_sql,
    )

    con = duckdb.connect()
    con.sql(
        "CREATE TABLE cells AS SELECT (i % 16) AS cx, (i // 16) AS cy,"
        " i AS id FROM (SELECT unnest(generate_series(0, 255)) AS i)"
    )
    out = con.sql(hilbert_sql(4, "cells", "duckdb")).df().sort_values("id")
    want = hilbert_d(4, out["cx"].to_numpy(), out["cy"].to_numpy())
    assert (out["hd"].to_numpy() == want).all()
