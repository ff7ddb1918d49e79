"""Part 2 of the oracle-pair registry (mechanical order-preserving split of the former monolithic oracle_pairs.py; the facade module re-exports everything).  Cross-part names are imported explicitly below — generated, do not hand-edit the import block.

Original module docstring:
Registry of (Spark query, DuckDB oracle SQL) pairs — the driver
correctness contract (__spark_entry__.queries / oracle_sql).

Every pair shares one SQL template (plans.shared_sql) rendered per
engine, so arithmetic is bit-identical and the driver's
order-insensitive value hash matches. Engine-only operators (binary
encodes, concave PIP, raster) register a query with NO oracle entry →
driver records a rows-only check, as documented.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from mapnik_vector_tile_spark.functions.tilemath import W
from mapnik_vector_tile_spark.plans import shared_sql as S

from mapnik_vector_tile_spark.plans.oracle_parts.p1 import (  # noqa: F401
    _engine_point_features, _typed_layers, splitmix64_sql,
)

PNG_N = 300  # q_raster_png corpus size

def q_raster_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2 LOSSLESS codec gate with a FULL contract oracle: every image
    of the committed synthetic corpus round-trips through the REAL PNG
    codec (functions.png — signature/IHDR/IDAT/IEND with CRCs, all 5
    scanline filters, min-SAD heuristic) and must come back BIT-EXACT
    (stronger than the JPEG path's PSNR gate), carry the real PNG
    signature, and compress the gradient+noise corpus below raw size.
    The DuckDB twin regenerates (image_id, w, h) closed-form and
    asserts the contract booleans TRUE. sf_dir unused (committed synth
    recipe). Ref parity: mapnik save_to_string(image, "png");
    SURVEY §2.8 R2."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.operators import raster as R

    def gen(it):
        from mapnik_vector_tile_spark.sources.synth import gen_images_pdf

        for pdf in it:
            ids = pdf["id"].to_numpy()
            if not len(ids):
                continue
            src = gen_images_pdf(
                int(ids.max()) - int(ids.min()) + 1, start=int(ids.min())
            )
            out = {"image_id": [], "w": [], "h": [], "exact": [],
                   "is_png": [], "smaller": []}
            for row in src.itertuples(index=False):
                rgba = R.decode_image(
                    row.bytes, row.fmt, int(row.w), int(row.h)
                )
                buf = R.encode_image(rgba, "png")
                back = R.decode_image(buf, "png", int(row.w), int(row.h))
                out["image_id"].append(row.image_id)
                out["w"].append(int(row.w))
                out["h"].append(int(row.h))
                out["exact"].append(bool(np.array_equal(back, rgba)))
                out["is_png"].append(buf[:8] == b"\x89PNG\r\n\x1a\n")
                out["smaller"].append(len(buf) < rgba.size)
            yield pd.DataFrame(out)

    return spark.range(0, PNG_N, 1, 8).mapInPandas(
        gen,
        schema=("image_id string, w int, h int, exact boolean, "
                "is_png boolean, smaller boolean"),
    )

def _sql_raster_png(n: int = PNG_N) -> str:
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {n - 1})) AS i)
SELECT 'img_' || lpad(CAST(i AS VARCHAR), 12, '0') AS image_id,
       CAST(16 + (i * 7) % 49 AS INT) AS w,
       CAST(16 + (i * 11) % 49 AS INT) AS h,
       TRUE AS exact, TRUE AS is_png, TRUE AS smaller
FROM ids
"""

WEBP_N = 200  # q_raster_webp corpus size

def q_raster_webp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2 WebP-lossless codec gate with a FULL contract oracle: the
    synthetic corpus round-trips through the REAL VP8L codec
    (functions.webp — RIFF/WEBP/VP8L container, canonical prefix codes
    via the 19-symbol code-length code, SUBTRACT_GREEN transform) and
    must come back BIT-EXACT with a real RIFF/VP8L header. The DuckDB
    twin regenerates (image_id, w, h) closed-form and asserts the
    booleans TRUE. sf_dir unused (committed synth recipe). Ref parity:
    mapnik save_to_string(image, "webp"); SURVEY §2.8 R2."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.operators import raster as R

    def gen(it):
        from mapnik_vector_tile_spark.sources.synth import gen_images_pdf

        for pdf in it:
            ids = pdf["id"].to_numpy()
            if not len(ids):
                continue
            src = gen_images_pdf(
                int(ids.max()) - int(ids.min()) + 1, start=int(ids.min())
            )
            out = {"image_id": [], "w": [], "h": [], "exact": [],
                   "is_webp": [], "nonempty": []}
            for row in src.itertuples(index=False):
                rgba = R.decode_image(
                    row.bytes, row.fmt, int(row.w), int(row.h)
                )
                buf = R.encode_image(rgba, "webp")
                back = R.decode_image(buf, "webp", int(row.w), int(row.h))
                out["image_id"].append(row.image_id)
                out["w"].append(int(row.w))
                out["h"].append(int(row.h))
                out["exact"].append(bool(np.array_equal(back, rgba)))
                out["is_webp"].append(
                    buf[:4] == b"RIFF" and buf[8:16] == b"WEBPVP8L"
                )
                out["nonempty"].append(len(buf) > 0)
            yield pd.DataFrame(out)

    return spark.range(0, WEBP_N, 1, 8).mapInPandas(
        gen,
        schema=("image_id string, w int, h int, exact boolean, "
                "is_webp boolean, nonempty boolean"),
    )

def _sql_raster_webp(n: int = WEBP_N) -> str:
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {n - 1})) AS i)
SELECT 'img_' || lpad(CAST(i AS VARCHAR), 12, '0') AS image_id,
       CAST(16 + (i * 7) % 49 AS INT) AS w,
       CAST(16 + (i * 11) % 49 AS INT) AS h,
       TRUE AS exact, TRUE AS is_webp, TRUE AS nonempty
FROM ids
"""

TIFF_N = 240  # q_raster_tiff corpus size

def q_raster_tiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2 TIFF codec gate with a FULL contract oracle: the synthetic
    corpus round-trips through the REAL baseline TIFF 6.0 codec
    (functions.tiff — little-endian IFD, PackBits strips with the §9
    per-row restart rule, plus the uncompressed variant) and must come
    back BIT-EXACT on BOTH compressions with a real ``II*\\0`` header.
    With png/jpeg/webp this completes the reference's mapnik raster
    format surface (only avif stays a stub). The DuckDB twin
    regenerates (image_id, w, h) closed-form and asserts the contract
    booleans TRUE. sf_dir unused (committed synth recipe). Ref parity:
    mapnik save_to_string(image, "tiff"); SURVEY §2.8 R2."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.functions import tiff as tiffmod
    from mapnik_vector_tile_spark.operators import raster as R

    def gen(it):
        from mapnik_vector_tile_spark.sources.synth import gen_images_pdf

        for pdf in it:
            ids = pdf["id"].to_numpy()
            if not len(ids):
                continue
            src = gen_images_pdf(
                int(ids.max()) - int(ids.min()) + 1, start=int(ids.min())
            )
            out = {"image_id": [], "w": [], "h": [], "exact": [],
                   "exact_raw": [], "is_tiff": []}
            for row in src.itertuples(index=False):
                rgba = R.decode_image(
                    row.bytes, row.fmt, int(row.w), int(row.h)
                )
                buf = R.encode_image(rgba, "tiff")
                back = R.decode_image(buf, "tiff", int(row.w), int(row.h))
                raw = tiffmod.encode_tiff(rgba, compress=False)
                back_raw = tiffmod.decode_tiff(raw)
                out["image_id"].append(row.image_id)
                out["w"].append(int(row.w))
                out["h"].append(int(row.h))
                out["exact"].append(bool(np.array_equal(back, rgba)))
                out["exact_raw"].append(bool(np.array_equal(back_raw, rgba)))
                out["is_tiff"].append(buf[:4] == b"II*\x00")
            yield pd.DataFrame(out)

    return spark.range(0, TIFF_N, 1, 8).mapInPandas(
        gen,
        schema=("image_id string, w int, h int, exact boolean, "
                "exact_raw boolean, is_tiff boolean"),
    )

def _sql_raster_tiff(n: int = TIFF_N) -> str:
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {n - 1})) AS i)
SELECT 'img_' || lpad(CAST(i AS VARCHAR), 12, '0') AS image_id,
       CAST(16 + (i * 7) % 49 AS INT) AS w,
       CAST(16 + (i * 11) % 49 AS INT) AS h,
       TRUE AS exact, TRUE AS exact_raw, TRUE AS is_tiff
FROM ids
"""

PNG8_N = 240  # q_raster_png8 corpus size

def q_raster_png8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2 PNG8 palette codec gate with a FULL contract oracle —
    mapnik's ``save_to_string(image, "png8")`` quantized-palette path
    (functions.png8: deterministic median cut, color-type-3 PNG with
    PLTE/tRNS). Two corpus classes: idx%3==0 renders a 6-color pattern
    (<=256 distinct ⇒ round-trip must be BIT-EXACT — the lossless
    contract), the rest use the gradient+noise synth pixels (>256
    distinct ⇒ decode must equal the INDEPENDENTLY computed palette
    mapping exactly, palette <=256 entries, and integer-exact
    PSNR >= 30 dB over RGB: sse*1000 <= npix*3*255^2). The DuckDB twin
    regenerates (image_id, w, h, few) closed-form and asserts the
    booleans TRUE. sf_dir unused (committed synth recipe). Ref parity:
    mapnik save_to_string(image, "png8") octree quantizer — same
    <=256-palette contract, deterministic median cut here; SURVEY
    §2.8 R2."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.functions import png8 as png8mod
    from mapnik_vector_tile_spark.operators import raster as R

    def gen(it):
        from mapnik_vector_tile_spark.sources.synth import gen_images_pdf

        pal6 = np.array(
            [
                [10, 20, 30, 255],
                [200, 100, 0, 255],
                [0, 0, 0, 128],
                [255, 255, 255, 255],
                [7, 7, 7, 255],
                [40, 220, 160, 255],
            ],
            np.uint8,
        )
        for pdf in it:
            ids = pdf["id"].to_numpy()
            if not len(ids):
                continue
            src = gen_images_pdf(
                int(ids.max()) - int(ids.min()) + 1, start=int(ids.min())
            )
            src = src.assign(idx=np.arange(int(ids.min()), int(ids.max()) + 1))
            out = {"image_id": [], "w": [], "h": [], "few": [],
                   "is_png8": [], "exact_ok": [], "psnr_ok": [],
                   "pal_ok": []}
            for row in src.itertuples(index=False):
                w, h = int(row.w), int(row.h)
                few = int(row.idx) % 3 == 0
                if few:
                    yy, xx = np.mgrid[0:h, 0:w]
                    rgba = pal6[(xx * 3 + yy * 5 + int(row.idx)) % 6]
                else:
                    rgba = R.decode_image(row.bytes, row.fmt, w, h)
                buf = R.encode_image(rgba, "png8")
                back = R.decode_image(buf, "png8", w, h)
                palette, idx2 = png8mod.median_cut_palette(rgba)
                quant = palette[idx2]
                if few:
                    exact_ok = bool(np.array_equal(back, rgba))
                else:
                    exact_ok = bool(np.array_equal(back, quant))
                err = rgba[..., :3].astype(np.int64) - back[..., :3].astype(
                    np.int64
                )
                sse = int((err * err).sum())
                npx = w * h
                out["image_id"].append(row.image_id)
                out["w"].append(w)
                out["h"].append(h)
                out["few"].append(few)
                out["is_png8"].append(
                    buf[:8] == b"\x89PNG\r\n\x1a\n" and buf[25:26] == b"\x03"
                )
                out["exact_ok"].append(exact_ok)
                out["psnr_ok"].append(sse * 1000 <= npx * 3 * 255 * 255)
                out["pal_ok"].append(len(palette) <= 256)
            yield pd.DataFrame(out)

    return spark.range(0, PNG8_N, 1, 8).mapInPandas(
        gen,
        schema=("image_id string, w int, h int, few boolean, "
                "is_png8 boolean, exact_ok boolean, psnr_ok boolean, "
                "pal_ok boolean"),
    )

def _sql_raster_png8(n: int = PNG8_N) -> str:
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {n - 1})) AS i)
SELECT 'img_' || lpad(CAST(i AS VARCHAR), 12, '0') AS image_id,
       CAST(16 + (i * 7) % 49 AS INT) AS w,
       CAST(16 + (i * 11) % 49 AS INT) AS h,
       (i % 3 = 0) AS few,
       TRUE AS is_png8, TRUE AS exact_ok, TRUE AS psnr_ok, TRUE AS pal_ok
FROM ids
"""

WKT_N = 600  # q_wkt_ingest / q_wkb_ingest corpus size

def _wkt_corpus_geoms(ids) -> list[tuple[int, int, list, list, list]]:
    """Deterministic 6-shape ingest corpus, closed-form per id so the
    DuckDB twin replays it without parsing: i%6 picks POINT /
    LINESTRING / POLYGON / MULTIPOINT / MULTILINESTRING(2 parts) /
    MULTIPOLYGON(2 rects). All coordinates are dyadic (.25/.5 offsets,
    integer steps, |v| < 2^12) so every vertex sum is exact in float64
    regardless of summation order. Returns (id, gtype, xs, ys, offs)."""
    from mapnik_vector_tile_spark.functions import geomcodec as gc

    out = []
    for i in ids:
        i = int(i)
        x0 = -170.0 + (i * 7) % 340 + 0.25
        y0 = -80.0 + (i * 11) % 160 + 0.5
        m = i % 6
        if m == 0:
            g, xs, ys, offs = gc.GEOM_POINT, [x0], [y0], [0, 1]
        elif m == 1:
            k = 3 + i % 5
            xs = [x0 + 3.0 * j for j in range(k)]
            ys = [y0 - 2.0 * j for j in range(k)]
            g, offs = gc.GEOM_LINESTRING, [0, k]
        elif m == 2:
            w, h = 1.0 + i % 9, 2.0 + i % 7
            xs = [x0, x0 + w, x0 + w, x0, x0]
            ys = [y0, y0, y0 + h, y0 + h, y0]
            g, offs = gc.GEOM_POLYGON, [0, 5]
        elif m == 3:
            k = 2 + i % 4
            xs = [x0 + 5.0 * j for j in range(k)]
            ys = [y0 + 4.0 * j for j in range(k)]
            g, offs = gc.GEOM_POINT, [0, k]
        elif m == 4:
            xs, ys = [], []
            for p in range(2):
                xs += [x0 + 10.0 * p + j for j in range(3)]
                ys += [y0 - 10.0 * p + 2.0 * j for j in range(3)]
            g, offs = gc.GEOM_LINESTRING, [0, 3, 6]
        else:
            xs, ys = [], []
            for r in range(2):
                rx = x0 + 20.0 * r
                xs += [rx, rx + 2.0, rx + 2.0, rx, rx]
                ys += [y0, y0, y0 + 3.0, y0 + 3.0, y0]
            g, offs = gc.GEOM_POLYGON, [0, 5, 10]
        out.append((i, g, xs, ys, offs))
    return out

def _ingest_summary(parsed: DataFrame) -> DataFrame:
    """Shared tail of the WKT/WKB ingest gates: per-feature structural
    summary over the canonical features schema."""
    from pyspark.sql import functions as F

    return parsed.select(
        F.col("feature_id"),
        F.col("geom_type"),
        (F.size("part_offsets") - F.lit(1)).alias("n_parts"),
        F.size("xs").alias("n_vertices"),
        F.aggregate("xs", F.lit(0.0), lambda a, x: a + x).alias("sum_x"),
        F.aggregate("ys", F.lit(0.0), lambda a, x: a + x).alias("sum_y"),
        F.col("caption"),
    )

def q_wkt_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 WKT source gate with a FULL oracle: the deterministic
    6-shape corpus is rendered to WKT TEXT (via the engine's
    geometry_to_wkt writer — so the writer is under the same gate),
    parsed back through the REAL wkt_to_features ingest stage
    (sources/wkt.py, to_merc=False: the subject is the parser), and
    summarized per feature (type, part/vertex counts, coordinate
    sums — all dyadic-exact). The DuckDB twin replays the corpus
    closed-form, no WKT involved. sf_dir unused (committed synth
    recipe). Ref parity: mapnik::from_wkt / util::to_wkt
    (include/mapnik/wkt/wkt_factory.hpp) feeding the reference's
    processor; SURVEY §2.1 S1."""
    import pandas as pd

    from mapnik_vector_tile_spark.sources import wkt as WK

    def gen(it):
        for pdf in it:
            ids = pdf["id"].to_numpy()
            if not len(ids):
                continue
            rows = {"feature_id": [], "wkt": [], "caption": []}
            for i, g, xs, ys, offs in _wkt_corpus_geoms(ids):
                rows["feature_id"].append(i)
                rows["wkt"].append(WK.geometry_to_wkt(g, xs, ys, offs))
                rows["caption"].append(f"c{i}")
            yield pd.DataFrame(rows)

    corpus = spark.range(0, WKT_N, 1, 8).mapInPandas(
        gen, schema="feature_id long, wkt string, caption string"
    )
    return _ingest_summary(WK.wkt_to_features(corpus, to_merc=False))

def q_wkb_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 WKB source gate with a FULL oracle: same corpus as
    q_wkt_ingest but serialized to WKB BYTES (geometry_to_wkb,
    alternating little/big endian by id so both byte orders stay
    gated) and parsed through the REAL wkb_to_features stage
    (np.frombuffer coordinate decode). Same closed-form DuckDB twin.
    Ref parity: mapnik geometry_utils::from_wkb; SURVEY §2.1 S1."""
    import pandas as pd

    from mapnik_vector_tile_spark.sources import wkt as WK

    def gen(it):
        for pdf in it:
            ids = pdf["id"].to_numpy()
            if not len(ids):
                continue
            rows = {"feature_id": [], "wkb": [], "caption": []}
            for i, g, xs, ys, offs in _wkt_corpus_geoms(ids):
                rows["feature_id"].append(i)
                rows["wkb"].append(
                    WK.geometry_to_wkb(g, xs, ys, offs, little=bool(i % 2))
                )
                rows["caption"].append(f"c{i}")
            yield pd.DataFrame(rows)

    corpus = spark.range(0, WKT_N, 1, 8).mapInPandas(
        gen, schema="feature_id long, wkb binary, caption string"
    )
    return _ingest_summary(WK.wkb_to_features(corpus, to_merc=False))

def q_shp_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 Shapefile source+sink gate with a FULL oracle: the same
    deterministic 6-shape corpus as the WKT/WKB gates is written
    through the REAL sharded shapefile sink (sources/shapefile.py —
    per-(partition, shape-type) .shp/.shx/.dbf triplets, executor-
    side, Point/MultiPoint split per the one-type-per-file spec rule,
    pinned-date dBASE III attributes) and read back through the REAL
    file-parallel source (to_merc=False: the subject is the codec),
    then summarized per feature exactly like q_wkt_ingest — so the
    writer, the reader, the FID/caption dbf order join, and the
    part-offset reconstruction are all under one hash. Same
    closed-form DuckDB twin; shapefile bytes never reach DuckDB. Ref
    parity: mapnik's shapefile datasource plugin
    (plugins/input/shape — shape_datasource/shape_featureset);
    SURVEY §2.1 S1."""
    import os
    import shutil

    import pandas as pd

    from mapnik_vector_tile_spark.sources.shapefile import (
        read_shapefile,
        write_shapefile_shards,
    )

    def gen(it):
        for pdf in it:
            ids = pdf["id"].to_numpy()
            if not len(ids):
                continue
            rows = {
                "feature_id": [], "geom_type": [], "xs": [], "ys": [],
                "part_offsets": [], "caption": [],
            }
            for i, g, xs, ys, offs in _wkt_corpus_geoms(ids):
                rows["feature_id"].append(i)
                rows["geom_type"].append(int(g))
                rows["xs"].append(list(xs))
                rows["ys"].append(list(ys))
                rows["part_offsets"].append(list(offs))
                rows["caption"].append(f"c{i}")
            yield pd.DataFrame(rows)

    from mapnik_vector_tile_spark.operators.tiling import FEATURES_SCHEMA

    corpus = spark.range(0, WKT_N, 1, 8).mapInPandas(
        gen, schema=FEATURES_SCHEMA
    )
    out_dir = f"/tmp/mvt_shp_gate_{os.getpid()}"
    shutil.rmtree(out_dir, ignore_errors=True)
    write_shapefile_shards(corpus, out_dir, num_shards=8)
    return _ingest_summary(read_shapefile(spark, out_dir, to_merc=False))

CSV_N = 600  # q_csv_ingest corpus size

def q_csv_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 CSV datasource gate with a FULL oracle: a deterministic
    point corpus (dyadic lon/lat so sums are exact) is written as four
    CSV fixture files — including malformed rows: every id%7==0 line
    carries a non-numeric lon, id%11==0 an out-of-range latitude —
    and read back through the REAL read_csv_features path
    (spark.read.csv explicit-schema scan → vectorized coercion +
    drop-policy stage, to_merc=False: the subject is the parser). The
    summary reuses the shared _ingest_summary; the DuckDB twin
    replays the corpus and BOTH drop rules closed-form — CSV text
    never reaches DuckDB. Ref parity: mapnik's csv datasource plugin
    (plugins/input/csv, strict=false drop-and-continue); SURVEY
    §2.1 S1."""
    import os

    from mapnik_vector_tile_spark.sources.csvsrc import read_csv_features

    out_dir = f"/tmp/mvt_csv_gate_{os.getpid()}"
    os.makedirs(out_dir, exist_ok=True)
    for shard in range(4):
        lines = ["id,lon,lat,caption"]
        for i in range(shard, CSV_N, 4):
            lon: object = -170.0 + (i * 7) % 340 + 0.25
            lat: object = -80.0 + (i * 11) % 160 + 0.5
            if i % 7 == 0:
                lon = "not-a-number"
            elif i % 11 == 0:
                lat = 91.5  # out of range -> dropped
            lines.append(f"{i},{lon},{lat},c{i}")
        with open(f"{out_dir}/part-{shard}.csv", "w") as fh:
            fh.write("\n".join(lines) + "\n")
    feats = read_csv_features(
        spark,
        out_dir,
        columns=["id", "lon", "lat", "caption"],
        to_merc=False,
    )
    return _ingest_summary(feats)

def _sql_csv_ingest(n: int = CSV_N) -> str:
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {n - 1})) AS i)
SELECT i AS feature_id, 1 AS geom_type, 1 AS n_parts, 1 AS n_vertices,
       CAST(-170 + (i * 7) % 340 AS DOUBLE) + 0.25 AS sum_x,
       CAST(-80 + (i * 11) % 160 AS DOUBLE) + 0.5 AS sum_y,
       'c' || CAST(i AS VARCHAR) AS caption
FROM ids
WHERE i % 7 <> 0 AND i % 11 <> 0
"""

def _sql_wkt_ingest(n: int = WKT_N) -> str:
    """Closed-form twin of _wkt_corpus_geoms + _ingest_summary."""
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {n - 1})) AS i),
base AS (
  SELECT i,
         CAST(-170 + (i * 7) % 340 AS DOUBLE) + 0.25 AS x0,
         CAST(-80 + (i * 11) % 160 AS DOUBLE) + 0.5 AS y0,
         i % 6 AS m,
         3 + i % 5 AS lk,          -- LINESTRING vertex count
         2 + i % 4 AS pk,          -- MULTIPOINT count
         CAST(1 + i % 9 AS DOUBLE) AS w,
         CAST(2 + i % 7 AS DOUBLE) AS h
  FROM ids
)
SELECT i AS feature_id,
       CASE m WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 3
              WHEN 3 THEN 1 WHEN 4 THEN 2 ELSE 3 END AS geom_type,
       CASE m WHEN 4 THEN 2 WHEN 5 THEN 2 ELSE 1 END AS n_parts,
       CASE m WHEN 0 THEN 1 WHEN 1 THEN lk WHEN 2 THEN 5
              WHEN 3 THEN pk WHEN 4 THEN 6 ELSE 10 END AS n_vertices,
       CASE m WHEN 0 THEN x0
              WHEN 1 THEN lk * x0 + 3.0 * (lk * (lk - 1) / 2)
              WHEN 2 THEN 5 * x0 + 2 * w
              WHEN 3 THEN pk * x0 + 5.0 * (pk * (pk - 1) / 2)
              WHEN 4 THEN 6 * x0 + 36.0
              ELSE 10 * x0 + 108.0 END AS sum_x,
       CASE m WHEN 0 THEN y0
              WHEN 1 THEN lk * y0 - 2.0 * (lk * (lk - 1) / 2)
              WHEN 2 THEN 5 * y0 + 2 * h
              WHEN 3 THEN pk * y0 + 4.0 * (pk * (pk - 1) / 2)
              WHEN 4 THEN 6 * y0 - 18.0
              ELSE 10 * y0 + 12.0 END AS sum_y,
       'c' || CAST(i AS VARCHAR) AS caption
FROM base
"""

COVER_N = 400  # q_cell_cover corpus size

COVER_Z = 10

def q_cell_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T15-family polygon→cell covering ("polyfill") with a FULL
    oracle. Corpus: 400 polygons at z=10, i%2 picks the shape —
    0: axis-aligned rectangle (w,h = cell-multiples + span/2, anchored
    at cell-fraction +0.25 so no edge ever lies ON a cell boundary),
    1: right triangle with axis-aligned legs (hypotenuse x+y = T with
    T at cell-corner-sum + span/2, so no corner ever lies ON it) —
    the triangle exercises the edge-crossing + center-PIP paths, not
    just bbox ranges. The engine runs the real vectorized kernel
    (operators/cellcover.py: vertex binning, Liang–Barsky edge×cell
    pairs, even-odd center PIP); the DuckDB twin enumerates cells by
    INTEGER arithmetic only (lateral generate_series + the halfplane
    inequality reduced to ints), a fully independent derivation.
    Output is the raw covering relation (feature_id, z, cx, cy).
    sf_dir unused (committed synth recipe). Ref parity: the
    processor's per-zoom tile loop over the layer envelope
    (tile-intersects-geometry decisions); S2 RegionCoverer semantics
    at fixed level; SURVEY §2 T15."""
    from mapnik_vector_tile_spark.operators.cellcover import cover_polygon_cells

    return cover_polygon_cells(_cell_cover_corpus(spark), COVER_Z)

def _cell_cover_corpus(spark: SparkSession) -> DataFrame:
    """The q_cell_cover rect/right-triangle corpus (shared with
    q_cell_cover_hier so both kernels are gated on identical input)."""
    import pandas as pd

    from mapnik_vector_tile_spark.functions import tilemath as tm

    span = tm.tile_span(COVER_Z)

    def gen(it):
        from mapnik_vector_tile_spark.functions import geomcodec as gc

        for pdf in it:
            ids = pdf["id"].to_numpy()
            if not len(ids):
                continue
            rows = {"feature_id": [], "geom_type": [], "xs": [], "ys": [],
                    "part_offsets": [], "caption": []}
            for i in ids:
                i = int(i)
                k = (i * 7) % 900
                m = (i * 11) % 900
                a = -tm.W + k * span + span / 4
                c = -tm.W + m * span + span / 4
                if i % 2 == 0:
                    w = (1 + i % 5) * span + span / 2
                    h = (2 + i % 4) * span + span / 2
                    xs = [a, a + w, a + w, a, a]
                    ys = [c, c, c + h, c + h, c]
                else:
                    L = (2 + i % 5) * span
                    xs = [a, a + L, a, a]
                    ys = [c, c, c + L, c]
                rows["feature_id"].append(i)
                rows["geom_type"].append(int(gc.GEOM_POLYGON))
                rows["xs"].append(xs)
                rows["ys"].append(ys)
                rows["part_offsets"].append([0, len(xs)])
                rows["caption"].append("")
            yield pd.DataFrame(rows)

    from mapnik_vector_tile_spark.operators.tiling import FEATURES_SCHEMA

    return spark.range(0, COVER_N, 1, 8).mapInPandas(
        gen, schema=FEATURES_SCHEMA
    )

def q_cell_cover_hier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical covering gate (cellcover.cover_polygon_cells_hier —
    the S2-RegionCoverer-style scale path: coarse cover at z−3,
    interior coarse cells expand to all children directly, boundary
    coarse cells refine through the exact kernel inside their child
    window). Same corpus and same SQL twin as q_cell_cover, so the
    gate proves the hierarchical path emits the IDENTICAL relation to
    the flat kernel while doing O(boundary·4^dz) work instead of
    O(bbox·4^dz). SURVEY §2 T15."""
    from mapnik_vector_tile_spark.operators.cellcover import (
        cover_polygon_cells_hier,
    )

    corpus = _cell_cover_corpus(spark)
    return cover_polygon_cells_hier(corpus, COVER_Z, coarse_dz=3)

def _sql_cell_cover(n: int = COVER_N) -> str:
    """Integer-only twin of q_cell_cover: rect covers the closed
    floor-ranges; the triangle adds the halfplane cut reduced to
    cx - cy <= k + m + tl - 1023 (derivation in the query docstring's
    design: T sits at corner-sum + span/2, so the float inequality is
    equivalent to this integer one)."""
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {n - 1})) AS i),
base AS (
  SELECT i, (i * 7) % 900 AS k, (i * 11) % 900 AS m, i % 2 AS kind,
         1 + i % 5 AS rw, 2 + i % 4 AS rh, 2 + i % 5 AS tl
  FROM ids
),
rect AS (
  SELECT b.i AS feature_id, gx.cx AS cx, gy.cy AS cy
  FROM base b,
       LATERAL (SELECT unnest(generate_series(b.k, b.k + b.rw)) AS cx) gx,
       LATERAL (SELECT unnest(generate_series(1023 - b.m - b.rh, 1023 - b.m)) AS cy) gy
  WHERE b.kind = 0
),
tri AS (
  SELECT b.i AS feature_id, gx.cx AS cx, gy.cy AS cy
  FROM base b,
       LATERAL (SELECT unnest(generate_series(b.k, b.k + b.tl)) AS cx) gx,
       LATERAL (SELECT unnest(generate_series(1023 - b.m - b.tl, 1023 - b.m)) AS cy) gy
  WHERE b.kind = 1 AND gx.cx - gy.cy <= b.k + b.m + b.tl - 1023
)
SELECT feature_id, CAST({COVER_Z} AS INT) AS z, cx, cy FROM rect
UNION ALL
SELECT feature_id, CAST({COVER_Z} AS INT) AS z, cx, cy FROM tri
"""

MBT_Z_LO, MBT_Z_HI = 3, 6  # q_mbtiles_roundtrip pyramid band

def q_mbtiles_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6-companion MBTiles sink/source gate with a FULL oracle: the
    real pipeline encodes the orders-point pyramid z3..z6, writes it
    through the SHARDED MBTiles sink (sources/mbtiles.py — one
    spec-compliant SQLite file per partition, executor-side, TMS row
    flip per the MBTiles 1.3 spec), reads the shards back through the
    source, and FULL-joins against the pre-write tiles: per zoom the
    output carries tile count, coordinate sums, and a blobs_match
    boolean that is TRUE only if every tile came back BYTE-IDENTICAL
    with no extras/missing (full join turns any asymmetry into a
    null → false). The DuckDB twin replays painted-tile counts/sums
    closed-form from the point corpus — it never sees SQLite. Ref
    parity: the mapnik/tilelive ecosystem's standard serving artifact
    (MBTiles 1.3); SURVEY §2.1 S6."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import tiling as T
    from mapnik_vector_tile_spark.sources.mbtiles import (
        read_mbtiles,
        write_mbtiles_shards,
    )

    feats = _engine_point_features(spark, sf_dir)
    assigned = T.assign_tiles(feats, MBT_Z_LO, MBT_Z_HI, buffer_units=0)
    tiles = T.fold_tiles(T.encode_layers(assigned, n_salts=8)).select(
        "z", "x", "y", "tile"
    )
    # pid-suffixed dir: concurrent sweeps/benches on one host must not
    # rmtree each other's shards mid-read (within one process, repeat
    # executions re-read the same still-present shards)
    out_dir = f"/tmp/mvt_mbtiles_gate_{os.getpid()}"
    shutil.rmtree(out_dir, ignore_errors=True)
    write_mbtiles_shards(
        tiles, out_dir, metadata={"name": "mbtiles-gate"}, num_shards=8
    )
    back = read_mbtiles(spark, out_dir).withColumnRenamed("tile", "rt")
    j = tiles.withColumnRenamed("tile", "orig").join(
        back, ["z", "x", "y"], "full"
    )
    return j.groupBy("z").agg(
        F.count(F.lit(1)).cast("long").alias("n_tiles"),
        F.sum("x").cast("long").alias("sum_x"),
        F.sum("y").cast("long").alias("sum_y"),
        F.min(
            F.coalesce(F.col("orig") == F.col("rt"), F.lit(False))
        ).alias("blobs_match"),
    )

def _sql_mbtiles(z_lo: int = MBT_Z_LO, z_hi: int = MBT_Z_HI) -> str:
    tx, ty = S.tile_xy_exprs(z_hi)
    return f"""
WITH {S.point_cte('orders', 'o_orderkey')},
base AS (SELECT DISTINCT {tx} AS tx, {ty} AS ty FROM pts),
zs AS (SELECT unnest(generate_series({z_lo}, {z_hi})) AS z),
lv AS (
  SELECT DISTINCT zz.z AS z,
         b.tx >> ({z_hi} - zz.z) AS x,
         b.ty >> ({z_hi} - zz.z) AS y
  FROM base b, zs zz
)
SELECT CAST(z AS INT) AS z,
       CAST(COUNT(*) AS BIGINT) AS n_tiles,
       CAST(SUM(x) AS BIGINT) AS sum_x,
       CAST(SUM(y) AS BIGINT) AS sum_y,
       TRUE AS blobs_match
FROM lv GROUP BY z
"""

def q_store_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6-companion z-partitioned parquet store gate (sources/store.py
    — the cluster-native layout next to MBTiles/PMTiles): same
    corpus and contract as q_mbtiles_roundtrip (full-join byte
    round-trip per zoom, same twin), through
    write_tile_store/read_tile_store. Partition pruning on z and
    row-group pruning on the sorted (x, y) are asserted separately in
    tests/test_plan_quality.py — this gate proves the LAYOUT loses no
    bytes; z must survive the partition-column round-trip as a
    readable int."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import tiling as T
    from mapnik_vector_tile_spark.sources.store import (
        read_tile_store,
        write_tile_store,
    )

    feats = _engine_point_features(spark, sf_dir)
    assigned = T.assign_tiles(feats, MBT_Z_LO, MBT_Z_HI, buffer_units=0)
    tiles = T.fold_tiles(T.encode_layers(assigned, n_salts=8)).select(
        "z", "x", "y", "tile"
    )
    out_dir = f"/tmp/mvt_store_gate_{os.getpid()}"
    shutil.rmtree(out_dir, ignore_errors=True)
    write_tile_store(tiles, out_dir)
    back = (
        read_tile_store(spark, out_dir)
        .select(
            F.col("z").cast("int").alias("z"), "x", "y",
            F.col("tile").alias("rt"),
        )
    )
    j = tiles.withColumnRenamed("tile", "orig").join(
        back, ["z", "x", "y"], "full"
    )
    return j.groupBy("z").agg(
        F.count(F.lit(1)).cast("long").alias("n_tiles"),
        F.sum("x").cast("long").alias("sum_x"),
        F.sum("y").cast("long").alias("sum_y"),
        F.min(
            F.coalesce(F.col("orig") == F.col("rt"), F.lit(False))
        ).alias("blobs_match"),
    )

def q_pmtiles_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6-companion PMTiles v3 sink/source gate with a FULL oracle —
    same contract as q_mbtiles_roundtrip but through the modern
    cloud-native archive (sources/pmtiles.py: 127-byte header, gzip'd
    Hilbert-ordered varint directories, content-deduplicated data
    section, one valid archive per partition): encode the orders-point
    pyramid z3..z6, write sharded, read back, full-join against the
    pre-write tiles; blobs_match is TRUE only if every tile returned
    BYTE-IDENTICAL with no extras/missing. The DuckDB twin replays
    painted-tile counts/sums closed-form and never sees the archive.
    A small max_root_entries forces the LEAF-directory path in the
    same gate."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import tiling as T
    from mapnik_vector_tile_spark.sources.pmtiles import (
        read_pmtiles,
        write_pmtiles_shards,
    )

    feats = _engine_point_features(spark, sf_dir)
    assigned = T.assign_tiles(feats, MBT_Z_LO, MBT_Z_HI, buffer_units=0)
    tiles = T.fold_tiles(T.encode_layers(assigned, n_salts=8)).select(
        "z", "x", "y", "tile"
    )
    out_dir = f"/tmp/mvt_pmtiles_gate_{os.getpid()}"
    shutil.rmtree(out_dir, ignore_errors=True)
    write_pmtiles_shards(
        tiles,
        out_dir,
        metadata={"name": "pmtiles-gate"},
        num_shards=8,
        max_root_entries=64,  # exercise leaf directories in the gate
    )
    back = read_pmtiles(spark, out_dir).withColumnRenamed("tile", "rt")
    j = tiles.withColumnRenamed("tile", "orig").join(
        back, ["z", "x", "y"], "full"
    )
    return j.groupBy("z").agg(
        F.count(F.lit(1)).cast("long").alias("n_tiles"),
        F.sum("x").cast("long").alias("sum_x"),
        F.sum("y").cast("long").alias("sum_y"),
        F.min(
            F.coalesce(F.col("orig") == F.col("rt"), F.lit(False))
        ).alias("blobs_match"),
    )

def q_tilejson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TileJSON 3.0 vector_layers summary with a FULL oracle: split
    the orders points into two real layers by id parity, encode the
    z3..z6 pyramid per layer (buffer 0), and run
    composite.tilejson_layers — per-layer zoom range, tile/feature
    counts, and the EXACT dyadic mercator bounds of painted max-zoom
    tiles. DuckDB replays assignment, per-zoom distinct-tile sets, the
    arg-max extent selection and the (x·2W)/2^z − W bounds math
    closed-form; any drift in the pyramid, the painted set, or the
    double expression order breaks the hash."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import composite as comp
    from mapnik_vector_tile_spark.operators import tiling as T

    feats = _engine_point_features(spark, sf_dir)
    parts = []
    for name, par in (("even", 0), ("odd", 1)):
        sub = feats.filter(F.col("feature_id") % 2 == par)
        assigned = T.assign_tiles(sub, MBT_Z_LO, MBT_Z_HI, buffer_units=0)
        parts.append(
            T.encode_layers(assigned, layer_name=name, n_salts=4)
        )
    layers = parts[0].unionByName(parts[1])
    return comp.tilejson_layers(layers)

def _sql_tilejson(z_lo: int = MBT_Z_LO, z_hi: int = MBT_Z_HI) -> str:
    from mapnik_vector_tile_spark.functions.tilemath import W

    tx, ty = S.tile_xy_exprs(z_hi)
    two_w = S.flit(2.0 * W)
    w = S.flit(W)
    p2 = S.flit(float(1 << z_hi))
    return f"""
WITH {S.point_cte('orders', 'o_orderkey')},
t AS (SELECT id % 2 AS par, {tx} AS tx, {ty} AS ty FROM pts),
zs AS (SELECT unnest(generate_series({z_lo}, {z_hi})) AS z),
lv AS (
  SELECT par, zz.z AS z, tx >> ({z_hi} - zz.z) AS x,
         ty >> ({z_hi} - zz.z) AS y, COUNT(*) AS nf
  FROM t, zs zz GROUP BY 1, 2, 3, 4
),
perz AS (
  SELECT par, z, COUNT(*) AS nt, SUM(nf) AS nf,
         MIN(x) AS xmin, MAX(x) AS xmax,
         MIN(y) AS ymin, MAX(y) AS ymax
  FROM lv GROUP BY 1, 2
),
agg AS (
  SELECT par, MIN(z) AS minzoom, MAX(z) AS maxzoom,
         SUM(nt) AS n_tiles, SUM(nf) AS n_features,
         arg_max(xmin, z) AS bxmin, arg_max(xmax, z) AS bxmax,
         arg_max(ymin, z) AS bymin, arg_max(ymax, z) AS bymax
  FROM perz GROUP BY par
)
SELECT CASE par WHEN 0 THEN 'even' ELSE 'odd' END AS layer,
       CAST(minzoom AS INT) AS minzoom, CAST(maxzoom AS INT) AS maxzoom,
       CAST(n_tiles AS BIGINT) AS n_tiles,
       CAST(n_features AS BIGINT) AS n_features,
       (CAST(bxmin AS DOUBLE) * {two_w}) / {p2} - {w} AS west_merc,
       {w} - (CAST(bymax + 1 AS DOUBLE) * {two_w}) / {p2} AS south_merc,
       (CAST(bxmax + 1 AS DOUBLE) * {two_w}) / {p2} - {w} AS east_merc,
       {w} - (CAST(bymin AS DOUBLE) * {two_w}) / {p2} AS north_merc
FROM agg
"""

LI_T = 0.35  # q_line_interpolate fraction

def q_line_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Along-line point placement (measures.line_interpolate — mapnik
    markers_placement line mode) with a FULL oracle on the staircase
    polylines of the measures corpus: every vertex/segment value is
    dyadic-exact, axis-aligned segment lengths come out of sqrt
    bit-exact (sqrt of an exact square), and the twin replays the
    engine's exact expression tree — rem = t·total − m(r+u), then
    x0m + (rem/len)·len on the hit segment — via the closed-form
    segment index m = floor(target/(r+u)) and the rem ≤ r
    horizontal/vertical branch. Identical doubles in, identical
    doubles out; hash-exact."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.functions import geomcodec as gc
    from mapnik_vector_tile_spark.functions import measures as M

    corpus = _measures_corpus(spark).filter(
        F.col("geom_type") == gc.GEOM_LINESTRING
    )
    px, py = M.line_interpolate(LI_T)
    return corpus.select(
        "feature_id",
        px.alias("px"),
        py.alias("py"),
        M.boundary_length().alias("length"),
    )

def _sql_line_interpolate(n: int = 500, t: float = LI_T) -> str:
    from mapnik_vector_tile_spark.plans.shared_sql import flit

    # engine-exact replay (see q_line_interpolate): target/rem/frac use
    # the same operations on the same exact doubles; m stays < k for
    # any t < 1 because target < total strictly
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {n - 1})) AS i),
base AS (
  SELECT i,
         {flit(-200.0)} + (i * 3) % 400 + {flit(0.125)} AS x0,
         {flit(-100.0)} + (i * 7) % 200 + {flit(0.0625)} AS y0,
         1 + i % 5 + {flit(0.5)} AS r,
         2 + i % 3 + {flit(0.25)} AS u,
         2 + i % 4 AS k
  FROM ids WHERE i % 2 = 1
),
tgt AS (
  SELECT *, {flit(t)} * (k * (r + u)) AS target FROM base
),
seg AS (
  SELECT *, CAST(FLOOR(target / (r + u)) AS BIGINT) AS m,
         target - CAST(FLOOR(target / (r + u)) AS BIGINT) * (r + u) AS rem
  FROM tgt
)
SELECT i AS feature_id,
       CASE WHEN rem <= r
            THEN (x0 + m * r) + (rem / r) * r
            ELSE x0 + (m + 1) * r END AS px,
       CASE WHEN rem <= r
            THEN y0 + m * u
            ELSE (y0 + m * u) + ((rem - r) / u) * u END AS py,
       k * (r + u) AS length
FROM seg
"""

def q_area_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True area-weighted centroid (measures.area_centroid — mapnik
    util::centroid, NOT the vertex mean) with a FULL oracle on the
    rectangle half of the measures corpus plus a holed variant: for a
    CCW rectangle the exact fold lands on x0 + w/2 bit-for-bit (all
    intermediates dyadic-exact); a second output row class punches a
    concentric half-size hole (CW ring appended as a second part) —
    the hole's negative cross sums shift nothing for the concentric
    case, pinning the holes-subtract path against the SAME closed
    form."""
    import pandas as pd
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.functions import geomcodec as gc
    from mapnik_vector_tile_spark.functions import measures as M

    def gen(it):
        for pdf in it:
            ids = pdf["id"].to_numpy()
            if not len(ids):
                continue
            rows = {"feature_id": [], "geom_type": [], "xs": [], "ys": [],
                    "part_offsets": [], "caption": []}
            for i in ids:
                i = int(i)
                x0 = -200.0 + (i * 3) % 400 + 0.125
                y0 = -100.0 + (i * 7) % 200 + 0.0625
                w = 1 + i % 9 + 0.25
                h = 2 + i % 7 + 0.5
                xs = [x0, x0 + w, x0 + w, x0, x0]
                ys = [y0, y0, y0 + h, y0 + h, y0]
                offs = [0, 5]
                if i % 2 == 1:
                    # concentric CW hole at half size (quarter margins)
                    hx0, hy0 = x0 + w / 4.0, y0 + h / 4.0
                    hw, hh = w / 2.0, h / 2.0
                    xs += [hx0, hx0, hx0 + hw, hx0 + hw, hx0]
                    ys += [hy0, hy0 + hh, hy0 + hh, hy0, hy0]
                    offs.append(10)
                rows["feature_id"].append(i)
                rows["geom_type"].append(int(gc.GEOM_POLYGON))
                rows["xs"].append(xs)
                rows["ys"].append(ys)
                rows["part_offsets"].append(offs)
                rows["caption"].append("")
            yield pd.DataFrame(rows)

    from mapnik_vector_tile_spark.operators.tiling import FEATURES_SCHEMA

    corpus = spark.range(0, MEASURES_N, 1, 8).mapInPandas(
        gen, schema=FEATURES_SCHEMA
    )
    cx, cy = M.area_centroid()
    return corpus.select(
        "feature_id",
        cx.alias("cx"),
        cy.alias("cy"),
        M.signed_area2().alias("a2"),
    )

def _sql_area_centroid(n: int = 500) -> str:
    from mapnik_vector_tile_spark.plans.shared_sql import flit

    # outer 2wh minus (for odd i) the CW half-size hole's 2*(w/2)(h/2)
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {n - 1})) AS i),
base AS (
  SELECT i,
         {flit(-200.0)} + (i * 3) % 400 + {flit(0.125)} AS x0,
         {flit(-100.0)} + (i * 7) % 200 + {flit(0.0625)} AS y0,
         1 + i % 9 + {flit(0.25)} AS w,
         2 + i % 7 + {flit(0.5)} AS h
  FROM ids
)
SELECT i AS feature_id,
       x0 + w / {flit(2.0)} AS cx,
       y0 + h / {flit(2.0)} AS cy,
       CASE WHEN i % 2 = 0 THEN {flit(2.0)} * w * h
            ELSE {flit(2.0)} * w * h
                 - {flit(2.0)} * (w / {flit(2.0)}) * (h / {flit(2.0)})
       END AS a2
FROM base
"""

def q_pyramid_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Store-integrity audit (composite.pyramid_orphans) with a FULL
    oracle: build the z3..z6 painted pyramid from orders points, DROP
    a deterministic subset of z5 tiles ((x + y) % 7 == 0 — a partial
    build failure), and report every z6 tile whose parent vanished.
    The twin replays the painted sets and the anti-join closed-form;
    an audit that misses an orphan (or invents one) hash-mismatches.
    Address-only plan: tile bytes never enter it."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import composite as comp
    from mapnik_vector_tile_spark.operators import tiling as T

    feats = _engine_point_features(spark, sf_dir)
    assigned = T.assign_tiles(feats, MBT_Z_LO, MBT_Z_HI, buffer_units=0)
    tiles = T.fold_tiles(T.encode_layers(assigned, n_salts=8))
    broken = tiles.filter(
        ~((F.col("z") == 5) & ((F.col("x") + F.col("y")) % 7 == 0))
    )
    return comp.pyramid_orphans(broken)

def _sql_pyramid_audit(z_lo: int = MBT_Z_LO, z_hi: int = MBT_Z_HI) -> str:
    tx, ty = S.tile_xy_exprs(z_hi)
    return f"""
WITH {S.point_cte('orders', 'o_orderkey')},
base AS (SELECT DISTINCT {tx} AS tx, {ty} AS ty FROM pts),
zs AS (SELECT unnest(generate_series({z_lo}, {z_hi})) AS z),
lv AS (
  SELECT DISTINCT zz.z AS z,
         b.tx >> ({z_hi} - zz.z) AS x,
         b.ty >> ({z_hi} - zz.z) AS y
  FROM base b, zs zz
),
kept AS (
  SELECT * FROM lv WHERE NOT (z = 5 AND (x + y) % 7 = 0)
)
SELECT CAST(k.z AS INT) AS z, k.x, k.y,
       k.x >> 1 AS parent_x, k.y >> 1 AS parent_y
FROM kept k
WHERE k.z > {z_lo}
  AND NOT EXISTS (
    SELECT 1 FROM kept p
    WHERE p.z = k.z - 1 AND p.x = k.x >> 1 AND p.y = k.y >> 1
  )
"""

def q_tilestats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mapbox-tilestats attribute statistics (composite.
    layer_attribute_stats) over the typed-values layer store, FULL
    oracle: per attribute — type class, feature count, EXACT distinct
    count (identity = raw Value encoding bits, so doubles never need a
    cross-engine repr), numeric min/max, and the most frequent
    discrete value (count-desc, repr-asc). The DuckDB twin recomputes
    all of it relationally from lineitem; a wrong dictionary decode,
    a collapsed double, or a nondeterministic top-value tiebreak
    breaks the hash."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators.composite import (
        layer_attribute_stats,
    )

    layers = _typed_layers(spark, sf_dir).select(
        F.lit(8).alias("z"),
        F.col("tx").alias("x"),
        F.col("ty").alias("y"),
        F.lit("li").alias("layer"),
        F.col("blob"),
        F.lit(0).cast("long").alias("n_features"),
        F.lit(0).cast("long").alias("n_points"),
    )
    return layer_attribute_stats(layers)

def _sql_tilestats() -> str:
    return """
WITH li AS (
  SELECT CAST(l_quantity AS BIGINT) AS qty,
         l_extendedprice AS price,
         (l_returnflag = 'R') AS rflag
  FROM lineitem
),
qty_top AS (
  SELECT CAST(qty AS VARCHAR) AS r, COUNT(*) AS c FROM li GROUP BY 1
),
rflag_top AS (
  SELECT CASE WHEN rflag THEN 'true' ELSE 'false' END AS r,
         COUNT(*) AS c
  FROM li GROUP BY 1
)
SELECT 'li' AS layer, 'qty' AS attr, 'number' AS vtype,
       CAST(COUNT(*) AS BIGINT) AS n_features,
       CAST(COUNT(DISTINCT qty) AS BIGINT) AS n_distinct,
       CAST(MIN(qty) AS DOUBLE) AS min_num,
       CAST(MAX(qty) AS DOUBLE) AS max_num,
       (SELECT r FROM qty_top ORDER BY c DESC, r ASC LIMIT 1)
         AS top_value
FROM li
UNION ALL
SELECT 'li', 'price', 'number',
       CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(DISTINCT price) AS BIGINT),
       MIN(price), MAX(price), NULL
FROM li
UNION ALL
SELECT 'li', 'rflag', 'boolean',
       CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(DISTINCT rflag) AS BIGINT),
       NULL, NULL,
       (SELECT r FROM rflag_top ORDER BY c DESC, r ASC LIMIT 1)
FROM li
"""

PRJ_N_RECTS = 64  # q_polygon_rect_join rect corpus size

def _rect_exprs() -> tuple[str, str, str, str]:
    """(x0, y0, x1, y1) SQL expressions over a rect id column ``i`` —
    the house point mix for the top-left corner plus dyadic sizes;
    rendered identically into Spark SQL and DuckDB so every rect bound
    is the same double in both engines."""
    cx = (
        "((((i) * 2654435761) % 4294967296) / "
        f"{S.flit(2**32)}) * {S.flit(S.TWO_W)} - {S.flit(W)}"
    )
    cy = (
        "((((i) * 1103515245 + 12345) % 4294967296) / "
        f"{S.flit(2**32)}) * {S.flit(S.TWO_W)} - {S.flit(W)}"
    )
    wexp = f"((i % 7) + 1) * {S.flit(2.0 * W / 256)}"
    hexp = f"((i % 5) + 1) * {S.flit(2.0 * W / 256)}"
    return (
        f"({cx})",
        f"(({cy}) - ({hexp}))",
        f"(({cx}) + ({wexp}))",
        f"({cy})",
    )

def q_polygon_rect_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 polygon x rectangle INTERSECTS overlay join
    (joins.polygon_rect_join) with a FULL oracle: 64 deterministic
    mercator rectangles against the 200-region corpus
    (convex/concave/holed). Engine candidates come from the EXACT
    polygon cell cover ⋈ rect envelope range (closed covers both
    sides — provably no false negatives); the refine is the
    three-clause closed-set test (vertex-in-rect, corner-in-polygon
    via the house even-odd ray cast, segment-vs-AABB separating-axis).
    The DuckDB twin computes the SAME three clauses over inlined
    vertex/edge VALUES — identical double expressions, identical
    boundary semantics — with NO cell machinery, so candidates and
    refine are both gated."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import joins as J
    from mapnik_vector_tile_spark.sources.synth import regions_merc_df

    x0, y0, x1, y1 = _rect_exprs()
    rects = (
        spark.range(PRJ_N_RECTS)
        .selectExpr("id AS i")
        .selectExpr(
            "i AS rect_id",
            f"{x0} AS x0",
            f"{y0} AS y0",
            f"{x1} AS x1",
            f"{y1} AS y1",
        )
    )
    regions = regions_merc_df(spark, 200).select(
        "region_id", "xs", "ys", "ring_offsets"
    )
    return J.polygon_rect_join(rects, regions, z=6)

def _sql_polygon_rect_join(n_regions: int = 200) -> str:
    from mapnik_vector_tile_spark.sources.synth import gen_regions_merc_pdf

    pdf = gen_regions_merc_pdf(n_regions)
    vrows, erows = [], []
    for rid, xs, ys, offs in zip(
        pdf["region_id"], pdf["xs"], pdf["ys"], pdf["ring_offsets"]
    ):
        for r in range(len(offs) - 1):
            s, e = offs[r], offs[r + 1]
            for i in range(s, e):
                vrows.append(f"({rid},{S.flit(xs[i])},{S.flit(ys[i])})")
            for i in range(s + 1, e):
                erows.append(
                    f"({rid},{S.flit(xs[i - 1])},{S.flit(ys[i - 1])},"
                    f"{S.flit(xs[i])},{S.flit(ys[i])})"
                )
    x0, y0, x1, y1 = _rect_exprs()
    cross = "(e.x2e - e.x1e) * ({cy} - e.y1e) - (e.y2e - e.y1e) * ({cx} - e.x1e)"
    dot = "(e.x2e - e.x1e) * ({cx} - e.x1e) + (e.y2e - e.y1e) * ({cy} - e.y1e)"
    corners = [
        ("r.x0", "r.y0"), ("r.x1", "r.y0"), ("r.x1", "r.y1"), ("r.x0", "r.y1")
    ]
    crs = [cross.format(cx=cx, cy=cy) for cx, cy in corners]
    dts = [dot.format(cx=cx, cy=cy) for cx, cy in corners]
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {PRJ_N_RECTS - 1})) AS i),
rects AS (
  SELECT i AS rect_id, {x0} AS x0, {y0} AS y0, {x1} AS x1, {y1} AS y1
  FROM ids
),
verts(region_id, vx, vy) AS (VALUES
{",".join(vrows)}),
edges(region_id, x1e, y1e, x2e, y2e) AS (VALUES
{",".join(erows)}),
a AS (
  SELECT DISTINCT r.rect_id, v.region_id
  FROM rects r JOIN verts v
    ON v.vx >= r.x0 AND v.vx <= r.x1
   AND v.vy >= r.y0 AND v.vy <= r.y1
),
corners AS (
  SELECT rect_id, x0 AS px, y0 AS py FROM rects
  UNION ALL SELECT rect_id, x1, y0 FROM rects
  UNION ALL SELECT rect_id, x1, y1 FROM rects
  UNION ALL SELECT rect_id, x0, y1 FROM rects
),
cr AS (
  SELECT c.rect_id, e.region_id, c.px, c.py, COUNT(*) AS ncross
  FROM corners c JOIN edges e
    ON ((e.y2e > c.py) != (e.y1e > c.py))
   AND c.px < (e.x1e - e.x2e) * (c.py - e.y2e) / (e.y1e - e.y2e) + e.x2e
  GROUP BY 1, 2, 3, 4
),
b AS (
  SELECT DISTINCT rect_id, region_id FROM cr WHERE ncross % 2 = 1
),
sat AS (
  SELECT DISTINCT r.rect_id, e.region_id
  FROM rects r JOIN edges e
    ON GREATEST(e.x1e, e.x2e) >= r.x0 AND LEAST(e.x1e, e.x2e) <= r.x1
   AND GREATEST(e.y1e, e.y2e) >= r.y0 AND LEAST(e.y1e, e.y2e) <= r.y1
   AND LEAST({crs[0]}, {crs[1]}, {crs[2]}, {crs[3]}) <= 0.0e0
   AND GREATEST({crs[0]}, {crs[1]}, {crs[2]}, {crs[3]}) >= 0.0e0
   AND GREATEST({dts[0]}, {dts[1]}, {dts[2]}, {dts[3]}) >= 0.0e0
   AND LEAST({dts[0]}, {dts[1]}, {dts[2]}, {dts[3]})
       <= (e.x2e - e.x1e) * (e.x2e - e.x1e)
        + (e.y2e - e.y1e) * (e.y2e - e.y1e)
)
SELECT rect_id, region_id FROM a
UNION
SELECT rect_id, region_id FROM b
UNION
SELECT rect_id, region_id FROM sat
"""

def q_polygon_polygon_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 polygon x polygon INTERSECTS overlay join
    (joins.polygon_polygon_join — the general GIS overlay) with a FULL
    oracle: regions 0..99 of the 200-region corpus against regions
    100..199 (disjoint id ranges, distinct shapes, convex/concave/
    holed on both sides). Engine candidates come from the exact cell
    covers of BOTH sides; the refine is vertex-in-B ∪ vertex-in-A
    (house even-odd) ∪ edge-meets-edge (orientation products with the
    all-collinear 1D-bbox fallback). The twin replays all three
    clauses over inlined VALUES with no cell machinery — identical
    double expressions — gating candidates and refine."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import joins as J
    from mapnik_vector_tile_spark.sources.synth import regions_merc_df

    regions = regions_merc_df(spark, 200).select(
        "region_id", "xs", "ys", "ring_offsets"
    )
    a = regions.filter(F.col("region_id") < 100)
    b = regions.filter(F.col("region_id") >= 100)
    return J.polygon_polygon_join(a, b, z=6)

def q_polygon_polygon_ri(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9b Raster-Intervals variant (joins.polygon_polygon_join_ri —
    SIGMOD 2023 full/partial cell classification): SAME corpus, SAME
    expected relation and SAME twin as q_polygon_polygon_join, so the
    gate proves the FULL-cell shortcut decides pairs without ever
    disagreeing with the exact kernel — the decided ∪ refined union
    must land on the identical (a_id, b_id) set."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import joins as J
    from mapnik_vector_tile_spark.sources.synth import regions_merc_df

    regions = regions_merc_df(spark, 200).select(
        "region_id", "xs", "ys", "ring_offsets"
    )
    a = regions.filter(F.col("region_id") < 100)
    b = regions.filter(F.col("region_id") >= 100)
    return J.polygon_polygon_join_ri(a, b, z=6)

def q_dissolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U12 dissolve (joins.dissolve_polygons — transitive merge of
    touching/overlapping polygons, the grouping half of wagyu's
    multi_polygon_union) with a FULL oracle: the 200-region corpus
    self-joined through the exact J9 overlay (129 groups, clusters up
    to 7 members, 94 singletons — every code path carries rows). The
    twin replays the intersects clauses over inlined VALUES, takes the
    transitive closure by recursive CTE (a different algorithm than
    the engine's pointer-doubling min-label), and coalesces
    singletons; per-group member/vertex counts hash the grouping."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import joins as J
    from mapnik_vector_tile_spark.sources.synth import regions_merc_df

    regions = regions_merc_df(spark, 200).select(
        "region_id", "xs", "ys", "ring_offsets"
    )
    out = J.dissolve_polygons(regions, z=6)
    nv = regions.select("region_id", F.size("xs").alias("nv"))
    return (
        out.join(nv, "region_id")
        .groupBy("group")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.sum("nv").cast("bigint").alias("sum_vertices"),
            F.max("region_id").cast("bigint").alias("max_id"),
        )
    )

def _sql_dissolve(n_regions: int = 200) -> str:
    from mapnik_vector_tile_spark.sources.synth import gen_regions_merc_pdf

    pdf = gen_regions_merc_pdf(n_regions)
    vv, ee, nvs = [], [], []
    for rid, xs, ys, offs in zip(
        pdf["region_id"], pdf["xs"], pdf["ys"], pdf["ring_offsets"]
    ):
        nvs.append(f"({rid},{len(xs)})")
        for r in range(len(offs) - 1):
            s_, e_ = offs[r], offs[r + 1]
            for i in range(s_, e_):
                vv.append(f"({rid},{S.flit(xs[i])},{S.flit(ys[i])})")
            for i in range(s_ + 1, e_):
                ee.append(
                    f"({rid},{S.flit(xs[i - 1])},{S.flit(ys[i - 1])},"
                    f"{S.flit(xs[i])},{S.flit(ys[i])})"
                )
    return f"""
WITH RECURSIVE vv(region_id, vx, vy) AS (VALUES
{",".join(vv)}),
ee(region_id, px, py, qx, qy) AS (VALUES
{",".join(ee)}),
nv(region_id, n) AS (VALUES
{",".join(nvs)}),
cr AS (
  SELECT v.region_id AS a_id, e.region_id AS b_id, v.vx, v.vy,
         COUNT(*) AS ncross
  FROM vv v JOIN ee e
    ON v.region_id <> e.region_id
   AND ((e.qy > v.vy) != (e.py > v.vy))
   AND v.vx < (e.px - e.qx) * (v.vy - e.qy) / (e.py - e.qy) + e.qx
  GROUP BY 1, 2, 3, 4
),
cl AS (SELECT DISTINCT a_id, b_id FROM cr WHERE ncross % 2 = 1),
e2 AS (
  SELECT region_id, px, py, qx, qy,
         GREATEST(px, qx) AS bxmax, LEAST(px, qx) AS bxmin,
         GREATEST(py, qy) AS bymax, LEAST(py, qy) AS bymin
  FROM ee
),
segp AS (
  SELECT ea.region_id AS a_id, eb.region_id AS b_id,
         ((ea.qx - ea.px) * (eb.py - ea.py) - (ea.qy - ea.py) * (eb.px - ea.px)) AS o1,
         ((ea.qx - ea.px) * (eb.qy - ea.py) - (ea.qy - ea.py) * (eb.qx - ea.px)) AS o2,
         ((eb.qx - eb.px) * (ea.py - eb.py) - (eb.qy - eb.py) * (ea.px - eb.px)) AS o3,
         ((eb.qx - eb.px) * (ea.qy - eb.py) - (eb.qy - eb.py) * (ea.qx - eb.px)) AS o4
  FROM e2 ea JOIN e2 eb
    ON ea.region_id < eb.region_id
   AND ea.bxmax >= eb.bxmin AND ea.bxmin <= eb.bxmax
   AND ea.bymax >= eb.bymin AND ea.bymin <= eb.bymax
),
seg AS (
  SELECT DISTINCT a_id, b_id FROM segp
  WHERE (o1 * o2 <= 0.0e0 AND o3 * o4 <= 0.0e0
         AND NOT (o1 = 0.0e0 AND o2 = 0.0e0
              AND o3 = 0.0e0 AND o4 = 0.0e0))
     OR (o1 = 0.0e0 AND o2 = 0.0e0 AND o3 = 0.0e0 AND o4 = 0.0e0)
),
pr AS (
  SELECT DISTINCT LEAST(a_id, b_id) AS a_id, GREATEST(a_id, b_id) AS b_id
  FROM (SELECT a_id, b_id FROM cl
        UNION ALL SELECT a_id, b_id FROM seg)
),
edges AS (
  SELECT a_id AS s, b_id AS d FROM pr
  UNION ALL
  SELECT b_id AS s, a_id AS d FROM pr
),
reach(node, r) AS (
  SELECT DISTINCT s AS node, s AS r FROM edges
  UNION
  SELECT e.s AS node, reach.r
  FROM edges e JOIN reach ON reach.node = e.d
),
labels AS (SELECT node AS region_id, MIN(r) AS grp FROM reach GROUP BY node),
assign AS (
  SELECT nv.region_id, COALESCE(l.grp, nv.region_id) AS grp, nv.n
  FROM nv LEFT JOIN labels l USING (region_id)
)
SELECT grp AS "group",
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(n) AS BIGINT) AS sum_vertices,
       CAST(MAX(region_id) AS BIGINT) AS max_id
FROM assign GROUP BY 1
"""

def _sql_polygon_polygon_join(n_regions: int = 200) -> str:
    from mapnik_vector_tile_spark.sources.synth import gen_regions_merc_pdf

    pdf = gen_regions_merc_pdf(n_regions)
    va, vb, ea, eb = [], [], [], []
    for rid, xs, ys, offs in zip(
        pdf["region_id"], pdf["xs"], pdf["ys"], pdf["ring_offsets"]
    ):
        vt = va if rid < 100 else vb
        et = ea if rid < 100 else eb
        for r in range(len(offs) - 1):
            s_, e_ = offs[r], offs[r + 1]
            for i in range(s_, e_):
                vt.append(f"({rid},{S.flit(xs[i])},{S.flit(ys[i])})")
            for i in range(s_ + 1, e_):
                et.append(
                    f"({rid},{S.flit(xs[i - 1])},{S.flit(ys[i - 1])},"
                    f"{S.flit(xs[i])},{S.flit(ys[i])})"
                )
    o1 = "(ea.qx - ea.px) * (eb.py - ea.py) - (ea.qy - ea.py) * (eb.px - ea.px)"
    o2 = "(ea.qx - ea.px) * (eb.qy - ea.py) - (ea.qy - ea.py) * (eb.qx - ea.px)"
    o3 = "(eb.qx - eb.px) * (ea.py - eb.py) - (eb.qy - eb.py) * (ea.px - eb.px)"
    o4 = "(eb.qx - eb.px) * (ea.qy - eb.py) - (eb.qy - eb.py) * (ea.qx - eb.px)"
    return f"""
WITH va(region_id, vx, vy) AS (VALUES
{",".join(va)}),
vb(region_id, vx, vy) AS (VALUES
{",".join(vb)}),
ea(region_id, px, py, qx, qy) AS (VALUES
{",".join(ea)}),
eb(region_id, px, py, qx, qy) AS (VALUES
{",".join(eb)}),
cr_ab AS (
  SELECT v.region_id AS a_id, e.region_id AS b_id, v.vx, v.vy,
         COUNT(*) AS ncross
  FROM va v JOIN eb e
    ON ((e.qy > v.vy) != (e.py > v.vy))
   AND v.vx < (e.px - e.qx) * (v.vy - e.qy) / (e.py - e.qy) + e.qx
  GROUP BY 1, 2, 3, 4
),
cl_a AS (SELECT DISTINCT a_id, b_id FROM cr_ab WHERE ncross % 2 = 1),
cr_ba AS (
  SELECT e.region_id AS a_id, v.region_id AS b_id, v.vx, v.vy,
         COUNT(*) AS ncross
  FROM vb v JOIN ea e
    ON ((e.qy > v.vy) != (e.py > v.vy))
   AND v.vx < (e.px - e.qx) * (v.vy - e.qy) / (e.py - e.qy) + e.qx
  GROUP BY 1, 2, 3, 4
),
cl_b AS (SELECT DISTINCT a_id, b_id FROM cr_ba WHERE ncross % 2 = 1),
ea2 AS (
  SELECT region_id, px, py, qx, qy,
         GREATEST(px, qx) AS bxmax, LEAST(px, qx) AS bxmin,
         GREATEST(py, qy) AS bymax, LEAST(py, qy) AS bymin
  FROM ea
),
eb2 AS (
  SELECT region_id, px, py, qx, qy,
         GREATEST(px, qx) AS bxmax, LEAST(px, qx) AS bxmin,
         GREATEST(py, qy) AS bymax, LEAST(py, qy) AS bymin
  FROM eb
),
segp AS (
  SELECT ea.region_id AS a_id, eb.region_id AS b_id,
         ((ea.qx - ea.px) * (eb.py - ea.py) - (ea.qy - ea.py) * (eb.px - ea.px)) AS o1,
         ((ea.qx - ea.px) * (eb.qy - ea.py) - (ea.qy - ea.py) * (eb.qx - ea.px)) AS o2,
         ((eb.qx - eb.px) * (ea.py - eb.py) - (eb.qy - eb.py) * (ea.px - eb.px)) AS o3,
         ((eb.qx - eb.px) * (ea.qy - eb.py) - (eb.qy - eb.py) * (ea.qx - eb.px)) AS o4
  FROM ea2 ea JOIN eb2 eb
    ON ea.bxmax >= eb.bxmin AND ea.bxmin <= eb.bxmax
   AND ea.bymax >= eb.bymin AND ea.bymin <= eb.bymax
),
seg AS (
  SELECT DISTINCT a_id, b_id FROM segp
  WHERE (o1 * o2 <= 0.0e0 AND o3 * o4 <= 0.0e0
         AND NOT (o1 = 0.0e0 AND o2 = 0.0e0
              AND o3 = 0.0e0 AND o4 = 0.0e0))
     OR (o1 = 0.0e0 AND o2 = 0.0e0 AND o3 = 0.0e0 AND o4 = 0.0e0)
)
SELECT a_id, b_id FROM cl_a
UNION
SELECT a_id, b_id FROM cl_b
UNION
SELECT a_id, b_id FROM seg
"""

QK_Z = 12  # q_quadkey zoom

def q_quadkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bing/Azure quadkey strings (functions/cellid.quadkey_col — the
    third standard tile addressing beside XYZ/TMS, used by every
    Bing-schema tile store) with a FULL oracle: assign orders points
    at z12, emit the quadkey, and PARSE IT BACK with
    quadkey_parse_cols — the output carries the parsed (px, py), and
    the twin emits the assigned (tx, ty) in those columns, so any
    encode/parse asymmetry hash-mismatches. Pure Column bit math both
    ways; zero shuffle beyond the scan."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.functions.cellid import (
        quadkey_col,
        quadkey_parse_cols,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    tx, ty = S.tile_xy_exprs(QK_Z)
    # the point_cte mercator mix, rendered as Spark SQL (dialect-
    # common subset: %, /, CAST, floor)
    mxe = (
        "((((o_orderkey) * 2654435761) % 4294967296) / "
        f"{S.flit(2**32)}) * {S.flit(S.TWO_W)} - {S.flit(W)}"
    )
    mye = (
        "((((o_orderkey) * 1103515245 + 12345) % 4294967296) / "
        f"{S.flit(2**32)}) * {S.flit(S.TWO_W)} - {S.flit(W)}"
    )
    pts = orders.selectExpr(
        "o_orderkey AS id", f"{mxe} AS mx", f"{mye} AS my"
    ).selectExpr("id", f"{tx} AS x", f"{ty} AS y")
    qk = pts.withColumn("quadkey", quadkey_col(QK_Z))
    px, py = quadkey_parse_cols("quadkey", QK_Z)
    return qk.select(
        "id", "quadkey", px.alias("px"), py.alias("py")
    )

def _sql_quadkey(z: int = QK_Z) -> str:
    from mapnik_vector_tile_spark.functions.cellid import quadkey_sql

    tx, ty = S.tile_xy_exprs(z)
    return f"""
WITH {S.point_cte('orders', 'o_orderkey')},
t AS (SELECT id, {tx} AS tx, {ty} AS ty FROM pts)
SELECT id, {quadkey_sql('tx', 'ty', z)} AS quadkey,
       tx AS px, ty AS py
FROM t
"""

IMG_TH_N = 400  # q_image_thumbs corpus size

IMG_TH_S = 8  # thumbnail size

def q_image_thumbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vision-pipeline thumbnailing (raster.image_thumbnails) over the
    canonical images table with a FULL oracle: decode (raw-rgba8 AND
    png-zlib rows), exact integer box-average to 8x8 (prefix-sum box
    sums, floor-divided — zero float accumulation), caption preserved
    per the north rule's per-row invariant. The result hashes the
    per-image channel sums OF THE EMITTED THUMB BYTES plus the caption
    string; DuckDB regenerates every source pixel (gradient + wrapped
    splitmix64 noise), replays the cell partition via the closed-form
    inverse ((y+1)·s − 1)//h, the floor-divided cell means, and the
    caption words from the phash bits."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.operators.raster import image_thumbnails
    from mapnik_vector_tile_spark.sources.synth import images_df

    imgs = images_df(spark, IMG_TH_N)
    th = image_thumbnails(imgs, size=IMG_TH_S)

    def gen(it):
        for pdf in it:
            out = {"image_id": [], "caption": [], "sum_r": [],
                   "sum_g": [], "sum_b": []}
            for r in pdf.itertuples():
                a = (
                    np.frombuffer(r.thumb, np.uint8)
                    .reshape(IMG_TH_S, IMG_TH_S, 4)
                    .astype(np.int64)
                )
                out["image_id"].append(r.image_id)
                out["caption"].append(r.caption)
                out["sum_r"].append(int(a[..., 0].sum()))
                out["sum_g"].append(int(a[..., 1].sum()))
                out["sum_b"].append(int(a[..., 2].sum()))
            yield pd.DataFrame(out)

    return th.mapInPandas(
        gen,
        schema="image_id string, caption string, sum_r long, "
        "sum_g long, sum_b long",
    )

def _sql_image_thumbs(n: int = IMG_TH_N, s: int = IMG_TH_S) -> str:
    from mapnik_vector_tile_spark.sources.synth import _WORDS

    words = "[" + ", ".join(f"'{w}'" for w in _WORDS) + "]"
    nw = len(_WORDS)
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {n - 1})) AS i),
dims AS (
  SELECT i, 16 + (i * 7) % 49 AS w, 16 + (i * 11) % 49 AS h,
         {splitmix64_sql('i')} AS ph
  FROM ids
),
ys AS (SELECT i, w, h, ph, unnest(generate_series(0, h - 1)) AS y FROM dims),
pix AS (
  SELECT i, w, h, y, unnest(generate_series(0, w - 1)) AS x
  FROM ys
),
chan AS (
  SELECT i, w, h, y, x,
         CAST(({splitmix64_sql('(y * w + x + i * 65537)')}) % 64 AS BIGINT)
           AS noise
  FROM pix
),
vals AS (
  SELECT i,
         ((((y + 1) * {s}) - 1) // h) AS ty,
         ((((x + 1) * {s}) - 1) // w) AS tx,
         ((x * 255) // (w - 1) + noise) % 256 AS r,
         ((y * 255) // (h - 1) + noise) % 256 AS g,
         (((x + y) * 255) // (w + h - 2) + noise) % 256 AS b
  FROM chan
),
cells AS (
  SELECT i, ty, tx,
         SUM(r) // COUNT(*) AS cr,
         SUM(g) // COUNT(*) AS cg,
         SUM(b) // COUNT(*) AS cb
  FROM vals GROUP BY 1, 2, 3
),
caps AS (
  SELECT i,
         'caption ' || CAST(i AS VARCHAR) || ': '
           || {words}[CAST(ph % {nw} AS INT) + 1] || ' '
           || {words}[CAST((ph // 64) % {nw} AS INT) + 1] || ' '
           || {words}[CAST((ph // 4096) % {nw} AS INT) + 1] AS caption
  FROM dims
)
SELECT 'img_' || lpad(CAST(c.i AS VARCHAR), 12, '0') AS image_id,
       caps.caption AS caption,
       CAST(SUM(cr) AS BIGINT) AS sum_r,
       CAST(SUM(cg) AS BIGINT) AS sum_g,
       CAST(SUM(cb) AS BIGINT) AS sum_b
FROM cells c JOIN caps ON c.i = caps.i
GROUP BY 1, 2
"""

LAP_BLUR_THR = 23000  # splits the synth corpus's 17k-29k variance spread

def q_image_blur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T12e blur gate (raster.laplacian_stats — cv2 variance-of-
    Laplacian semantics, integer-exact) over the canonical images
    table with a FULL oracle: DuckDB regenerates every source pixel,
    replays the 8-bit luma, the interior 3×3 Laplacian via lag/lead
    windows, and the cross-multiplied variance decision. thr=23000
    sits mid-distribution so BOTH branches of is_blurry carry rows
    (the OpenCV-convention default 100 stays on the operator)."""
    from mapnik_vector_tile_spark.operators.raster import laplacian_stats
    from mapnik_vector_tile_spark.sources.synth import images_df

    imgs = images_df(spark, IMG_TH_N)
    return laplacian_stats(imgs, blur_thr=LAP_BLUR_THR)

def _img_pixel_ctes(n: int) -> str:
    """The SHARED synthetic-image replay CTE chain (ids → dims → pixel
    grid → per-pixel r/g/b → captions) used by every image-operator
    twin below — one source of truth for the pixel formulas, so the
    blur and curation gates can never drift apart."""
    from mapnik_vector_tile_spark.sources.synth import _WORDS

    words = "[" + ", ".join(f"'{w}'" for w in _WORDS) + "]"
    nw = len(_WORDS)
    noise = (
        f"CAST(({splitmix64_sql('(y * w + x + i * 65537)')}) % 64 AS BIGINT)"
    )
    return f"""ids AS (SELECT unnest(generate_series(0, {n - 1})) AS i),
dims AS (
  SELECT i, 16 + (i * 7) % 49 AS w, 16 + (i * 11) % 49 AS h,
         {splitmix64_sql('i')} AS ph
  FROM ids
),
ys AS (SELECT i, w, h, ph, unnest(generate_series(0, h - 1)) AS y FROM dims),
pix AS (
  SELECT i, w, h, y, unnest(generate_series(0, w - 1)) AS x
  FROM ys
),
chan AS (
  SELECT i, w, h, y, x,
         (((x * 255) // (w - 1) + {noise}) % 256) AS r,
         (((y * 255) // (h - 1) + {noise}) % 256) AS g,
         ((((x + y) * 255) // (w + h - 2) + {noise}) % 256) AS b
  FROM pix
),
caps AS (
  SELECT i,
         'caption ' || CAST(i AS VARCHAR) || ': '
           || {words}[CAST(ph % {nw} AS INT) + 1] || ' '
           || {words}[CAST((ph // 64) % {nw} AS INT) + 1] || ' '
           || {words}[CAST((ph // 4096) % {nw} AS INT) + 1] AS caption
  FROM dims
)"""

_IMG_LUM_LAP = """lum AS (
  SELECT i, w, h, y, x, (r * 77 + g * 151 + b * 28) // 256 AS g8
  FROM chan
),
lap AS (
  SELECT i, w, h, y, x,
         4 * g8
           - lag(g8)  OVER (PARTITION BY i, y ORDER BY x)
           - lead(g8) OVER (PARTITION BY i, y ORDER BY x)
           - lag(g8)  OVER (PARTITION BY i, x ORDER BY y)
           - lead(g8) OVER (PARTITION BY i, x ORDER BY y) AS l
  FROM lum
)"""

def _sql_image_blur(n: int = IMG_TH_N, thr: int = LAP_BLUR_THR) -> str:
    return f"""
WITH {_img_pixel_ctes(n)},
{_IMG_LUM_LAP},
agg AS (
  SELECT i, COUNT(*) AS n_int,
         CAST(SUM(l) AS BIGINT) AS sum_l,
         CAST(SUM(l * l) AS BIGINT) AS sum_l2
  FROM lap
  WHERE x BETWEEN 1 AND w - 2 AND y BETWEEN 1 AND h - 2
  GROUP BY i
)
SELECT 'img_' || lpad(CAST(a.i AS VARCHAR), 12, '0') AS image_id,
       n_int, sum_l, sum_l2,
       (n_int = 0 OR n_int * sum_l2 - sum_l * sum_l < {thr} * n_int * n_int)
         AS is_blurry,
       caps.caption AS caption
FROM agg a JOIN caps ON a.i = caps.i
"""

def q_image_otsu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T12g Otsu global threshold (raster.otsu_stats — integer-exact
    between-class-variance argmax over the 8-bit luma histogram) over
    the canonical images table with a FULL oracle: DuckDB regenerates
    every source pixel from the shared CTE chain, folds the per-level
    histogram, and replays the floor-scaled HUGEINT score argmax
    ((s0·n1 − s1·n0)²·2⁵⁶ // (n0·n1), smallest-v tiebreak) plus the
    foreground count/sum at the chosen cut. Scale bound analysis in
    the operator docstring guarantees scaled argmax == exact argmax."""
    from mapnik_vector_tile_spark.operators.raster import otsu_stats
    from mapnik_vector_tile_spark.sources.synth import images_df

    imgs = images_df(spark, IMG_TH_N)
    return otsu_stats(imgs)

def _sql_image_otsu(n: int = IMG_TH_N) -> str:
    scale = 1 << 56  # OTSU_SCALE_BITS
    return f"""
WITH {_img_pixel_ctes(n)},
lum AS (
  SELECT i, (r * 77 + g * 151 + b * 28) // 256 AS g8
  FROM chan
),
lev AS (
  SELECT i, g8 AS v, CAST(COUNT(*) AS BIGINT) AS c,
         CAST(SUM(g8) AS BIGINT) AS sv
  FROM lum GROUP BY 1, 2
),
tot AS (SELECT i, SUM(c) AS tn, SUM(sv) AS ts FROM lev GROUP BY i),
cum AS (
  SELECT i, v,
         SUM(c)  OVER (PARTITION BY i ORDER BY v) AS n0,
         SUM(sv) OVER (PARTITION BY i ORDER BY v) AS s0
  FROM lev
),
sc AS (
  SELECT c.i, c.v,
         (t.tn - c.n0) AS n1, (t.ts - c.s0) AS s1,
         (CAST(c.s0 * (t.tn - c.n0) - (t.ts - c.s0) * c.n0 AS HUGEINT)
          * CAST(c.s0 * (t.tn - c.n0) - (t.ts - c.s0) * c.n0 AS HUGEINT)
          * {scale}) // CAST(c.n0 * (t.tn - c.n0) AS HUGEINT) AS score
  FROM cum c JOIN tot t ON c.i = t.i
  WHERE c.n0 < t.tn
),
best AS (
  SELECT i, v, n1, s1,
         row_number() OVER (PARTITION BY i ORDER BY score DESC, v ASC)
           AS rn
  FROM sc
)
SELECT 'img_' || lpad(CAST(b.i AS VARCHAR), 12, '0') AS image_id,
       CAST(b.v AS INT) AS otsu_t,
       CAST(b.n1 AS BIGINT) AS n_fg,
       CAST(b.s1 AS BIGINT) AS fg_sum,
       caps.caption AS caption
FROM best b JOIN caps ON b.i = caps.i
WHERE b.rn = 1
"""

def q_image_equalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T12h histogram equalization (raster.equalize_stats —
    cv2.equalizeHist made integer-exact: round-half-up lut
    ((cdf−cdf_min)·510 + den)//(2·den) over the 8-bit luma histogram)
    with a FULL oracle: DuckDB regenerates every pixel from the shared
    CTE chain, folds the per-level histogram, computes cdf/cdf_min via
    windows, rebuilds the lut with the same integer arithmetic, joins
    it back per level, and replays the equalized sum and extremes."""
    from mapnik_vector_tile_spark.operators.raster import equalize_stats
    from mapnik_vector_tile_spark.sources.synth import images_df

    return equalize_stats(images_df(spark, IMG_TH_N))

def _sql_image_equalize(n: int = IMG_TH_N) -> str:
    return f"""
WITH {_img_pixel_ctes(n)},
lum AS (
  SELECT i, (r * 77 + g * 151 + b * 28) // 256 AS g8
  FROM chan
),
lev AS (
  SELECT i, g8 AS v, CAST(COUNT(*) AS BIGINT) AS c
  FROM lum GROUP BY 1, 2
),
cum AS (
  SELECT i, v, c,
         SUM(c) OVER (PARTITION BY i ORDER BY v) AS cdf
  FROM lev
),
stats AS (
  SELECT i, MAX(cdf) AS n, MIN(CASE WHEN c > 0 THEN cdf END) AS cdf_min
  FROM cum GROUP BY i
),
lut AS (
  SELECT c.i, c.v, c.c,
         CASE WHEN s.n = s.cdf_min THEN c.v
              ELSE ((c.cdf - s.cdf_min) * 510 + (s.n - s.cdf_min))
                   // (2 * (s.n - s.cdf_min))
         END AS ev
  FROM cum c JOIN stats s ON c.i = s.i
),
agg AS (
  SELECT i, SUM(ev * c) AS eq_sum, MIN(ev) AS eq_min, MAX(ev) AS eq_max
  FROM lut GROUP BY i
)
SELECT 'img_' || lpad(CAST(a.i AS VARCHAR), 12, '0') AS image_id,
       CAST(eq_sum AS BIGINT) AS eq_sum,
       CAST(eq_min AS INT) AS eq_min,
       CAST(eq_max AS INT) AS eq_max,
       caps.caption AS caption
FROM agg a JOIN caps ON a.i = caps.i
"""

def q_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T21c real DCT pHash (raster.phash_dct — the algorithm behind
    the input_hint's phash column, made bit-exact via the committed
    fixed-point cosine table) with a FULL oracle: DuckDB regenerates
    every pixel, replays the 16×16 floor-div luma grid, performs the
    SAME two integer matrix multiplies against the SAME inlined
    cosine literals, re-derives the twice-median threshold from order
    statistics, and repacks all 64 bits MSB-first into the signed
    int64 — one flipped bit anywhere breaks the hash."""
    from mapnik_vector_tile_spark.operators.raster import phash_dct
    from mapnik_vector_tile_spark.sources.synth import images_df

    return phash_dct(images_df(spark, IMG_TH_N))

def _sql_image_phash(n: int = IMG_TH_N) -> str:
    from mapnik_vector_tile_spark.operators.raster import (
        PH_GRID,
        phash_cos_table,
    )

    C = phash_cos_table()
    ctab = ", ".join(
        f"({u}, {i}, {int(C[u, i])})"
        for u in range(8)
        for i in range(PH_GRID)
    )
    weights = " ".join(
        f"WHEN {k} THEN CAST({1 << (63 - k)} AS HUGEINT)" for k in range(64)
    )
    g = PH_GRID
    return f"""
WITH {_img_pixel_ctes(n)},
ct(u, ci, c) AS (VALUES {ctab}),
gvals AS (
  SELECT i,
         ((((y + 1) * {g}) - 1) // h) AS ty,
         ((((x + 1) * {g}) - 1) // w) AS tx,
         r * 299 + g * 587 + b * 114 AS gray
  FROM chan
),
gcells AS (
  SELECT i, ty, tx, SUM(gray) // COUNT(*) AS cg
  FROM gvals GROUP BY 1, 2, 3
),
rowstage AS (
  SELECT g.i, g.ty, ct.u, SUM(ct.c * g.cg) AS rv
  FROM gcells g JOIN ct ON ct.ci = g.tx
  GROUP BY 1, 2, 3
),
colstage AS (
  SELECT r.i, ct.u AS v, r.u, SUM(ct.c * r.rv) AS f
  FROM rowstage r JOIN ct ON ct.ci = r.ty
  GROUP BY 1, 2, 3
),
ranked AS (
  SELECT i, v, u, f,
         row_number() OVER (PARTITION BY i ORDER BY f) AS rn
  FROM colstage
),
med AS (
  SELECT i, SUM(CASE WHEN rn IN (32, 33) THEN f END) AS mm
  FROM ranked GROUP BY i
),
packed AS (
  SELECT r.i,
         SUM(CASE WHEN 2 * r.f > m.mm
             THEN (CASE r.v * 8 + r.u {weights} END)
             ELSE CAST(0 AS HUGEINT) END) AS hv
  FROM ranked r JOIN med m ON r.i = m.i
  GROUP BY r.i
)
SELECT 'img_' || lpad(CAST(p.i AS VARCHAR), 12, '0') AS image_id,
       CAST(CASE WHEN hv >= CAST({1 << 63} AS HUGEINT)
                 THEN hv - CAST({1 << 64} AS HUGEINT) ELSE hv END
            AS BIGINT) AS phash_dct,
       caps.caption AS caption
FROM packed p JOIN caps ON p.i = caps.i
"""

SG_RULES = (  # q_scale_gate style rules: (rule_id, min_sd, max_sd)
    (0, 0.0, 25_000.0),          # street-level only
    (1, 25_000.0, 1_500_000.0),  # mid zooms
    (2, 1_500_000.0, 1e18),      # overview
    (3, 0.0, 1e18),              # always on
    (4, 500_000.0, 500_001.0),   # knife-edge band (no zoom qualifies
                                 # unless a denominator lands inside)
)

def q_scale_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 scale-denominator gating (tilemath.scale_denominator /
    layer_visible — mapnik's Min/MaxScaleDenominator rule, min
    inclusive / max exclusive, 559082264.0287178 at z0) with a FULL
    oracle: the z0..22 denominator table crosses a committed rule set
    and both engines must agree on every visibility bit AND the
    denominator doubles themselves (exact halvings + one division).
    sf_dir unused (closed-form)."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.functions.tilemath import (
        layer_visible,
        scale_denominator,
    )

    rows = []
    for z in range(23):
        for rid, lo, hi in SG_RULES:
            rows.append(
                (
                    z,
                    rid,
                    scale_denominator(z),
                    bool(layer_visible(z, lo, hi)),
                )
            )
    return spark.createDataFrame(
        rows, "z int, rule_id int, scale_denom double, visible boolean"
    ).orderBy("z", "rule_id").select(
        "z", "rule_id", "scale_denom", "visible"
    )

def _sql_scale_gate() -> str:
    w2 = S.flit(2.0 * W)
    rules = ", ".join(
        f"({rid}, {S.flit(lo)}, {S.flit(hi)})" for rid, lo, hi in SG_RULES
    )
    return f"""
WITH zs AS (SELECT unnest(generate_series(0, 22)) AS z),
rules(rule_id, lo, hi) AS (VALUES {rules}),
sd AS (
  SELECT z, (({w2} / (1 << z)) / 256) / 0.00028e0 AS scale_denom
  FROM zs
)
SELECT sd.z, r.rule_id, sd.scale_denom,
       (r.lo <= sd.scale_denom AND sd.scale_denom < r.hi) AS visible
FROM sd, rules r
"""

IDW_Z = 4  # q_idw cell grid (span 2.5e6 >= radius)

IDW_R = 2_000_000.0  # interpolation radius (merc meters)

def q_idw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5c inverse-distance-weighted interpolation (joins.
    idw_interpolate — gdal_grid invdist power=2 over the radius_join
    cell-block plan) with a FULL no-epsilon oracle: order points
    interpolate customer values (c % 1000 + 1); every 1/d² term is
    one correctly-rounded division of identically-computed doubles
    folded in ascending-target order (the bigram-LM precedent), so
    DuckDB reproduces the final double BIT-exactly. Shared integer
    keys between orders and customer produce genuine d²=0 exact hits,
    so the infinite-weight short-circuit (lowest-id zero-distance
    value) is driver-exercised, not just unit-tested."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators.joins import idw_interpolate
    from mapnik_vector_tile_spark.plans.flagship import derive_points

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    q = derive_points(orders, "o_orderkey")
    t = derive_points(customer, "c_custkey").withColumn(
        "v", (F.col("id") % 1000 + 1).cast("double")
    )
    return idw_interpolate(q, t, IDW_R, value_col="v", z=IDW_Z)

def _sql_idw(z: int = IDW_Z, r: float = IDW_R) -> str:
    tx, ty = S.tile_xy_exprs(z)
    return f"""
WITH {S.point_cte('orders', 'o_orderkey', 'id', 'qp')},
{S.point_cte('customer', 'c_custkey', 'id', 'tp')},
qc AS (SELECT id AS qid, mx AS qx, my AS qy, {tx} AS ctx, {ty} AS cty
       FROM qp),
qb AS (
  SELECT qid, qx, qy, ctx + d % 3 - 1 AS ctx, cty + d // 3 - 1 AS cty
  FROM (SELECT qc.*, unnest(generate_series(0, 8)) AS d FROM qc)
),
tc AS (SELECT id AS tid, mx AS tx2, my AS ty2, {tx} AS ctx, {ty} AS cty,
              CAST(id % 1000 + 1 AS DOUBLE) AS v
       FROM tp),
pairs AS (
  SELECT qid, tid, v,
         (qx - tx2) * (qx - tx2) + (qy - ty2) * (qy - ty2) AS d2
  FROM qb JOIN tc USING (ctx, cty)
  WHERE (qx - tx2) * (qx - tx2) + (qy - ty2) * (qy - ty2)
        <= {S.flit(r * r)}
),
zero AS (SELECT qid, MIN(tid) AS htid FROM pairs WHERE d2 = 0 GROUP BY qid),
agg AS (
  SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_nbrs,
         list_reduce(
           list_prepend(CAST(0 AS DOUBLE),
                        list(v / d2 ORDER BY tid) FILTER (d2 > 0)),
           (a, b) -> a + b) AS num,
         list_reduce(
           list_prepend(CAST(0 AS DOUBLE),
                        list(CAST(1 AS DOUBLE) / d2 ORDER BY tid)
                          FILTER (d2 > 0)),
           (a, b) -> a + b) AS den
  FROM pairs GROUP BY qid
)
SELECT a.qid AS query_id, a.n_nbrs,
       CASE WHEN z.htid IS NOT NULL
            THEN CAST(z.htid % 1000 + 1 AS DOUBLE)
            ELSE num / den END AS idw
FROM agg a LEFT JOIN zero z ON a.qid = z.qid
"""

HEAT_Z = 6  # q_heatmap_tiles zoom

HEAT_RES = 64  # density raster resolution (pixels per tile side)

def q_heatmap_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6 point-density heatmap tiles (the mapbox heatmap-layer /
    datashader shape): order points bin into the HEAT_RES×HEAT_RES
    pixel grid of their covering z6 tile — one narrow projection
    (pure Column floor math on the shared mercator mix) and ONE
    map-side-combined aggregate per (tile, pixel), then a per-tile
    rollup emitting n_points, occupied-pixel count, and the
    collision-sensitive Σcount² (distinguishes 10 points in one pixel
    from 10 spread out — a plain count wouldn't). All integers; the
    DuckDB twin replays the mix, the two-level floor binning, and
    both moments bit-for-bit. At 10^12 points this is exactly the
    EP1 fan-out shape with a finer key — no new scaling risk."""
    from pyspark.sql import functions as F

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    tx, ty = S.tile_xy_exprs(HEAT_Z)
    mxe = (
        "((((o_orderkey) * 2654435761) % 4294967296) / "
        f"{S.flit(2**32)}) * {S.flit(S.TWO_W)} - {S.flit(W)}"
    )
    mye = (
        "((((o_orderkey) * 1103515245 + 12345) % 4294967296) / "
        f"{S.flit(2**32)}) * {S.flit(S.TWO_W)} - {S.flit(W)}"
    )
    span = S.TWO_W / (1 << HEAT_Z)
    pts = orders.selectExpr(
        "o_orderkey AS id", f"{mxe} AS mx", f"{mye} AS my"
    ).selectExpr("id", "mx", "my", f"{tx} AS x", f"{ty} AS y")
    px = (
        f"CAST(floor((mx + {S.flit(W)} - x * {S.flit(span)}) / "
        f"{S.flit(span / HEAT_RES)}) AS BIGINT)"
    )
    py = (
        f"CAST(floor(({S.flit(W)} - y * {S.flit(span)} - my) / "
        f"{S.flit(span / HEAT_RES)}) AS BIGINT)"
    )
    # clamp the boundary ulp (a point exactly on a tile edge can land
    # at index HEAT_RES): LEAST is mirrored verbatim in the twin
    binned = pts.selectExpr(
        "x",
        "y",
        f"LEAST({px}, {HEAT_RES - 1}) AS px",
        f"LEAST({py}, {HEAT_RES - 1}) AS py",
    )
    cells = binned.groupBy("x", "y", "px", "py").agg(
        F.count(F.lit(1)).alias("c")
    )
    return cells.groupBy("x", "y").agg(
        F.sum("c").cast("long").alias("n_points"),
        F.count(F.lit(1)).cast("long").alias("n_occupied"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sum_c2"),
    )

def _sql_heatmap_tiles(z: int = HEAT_Z, res: int = HEAT_RES) -> str:
    tx, ty = S.tile_xy_exprs(z)
    span = S.TWO_W / (1 << z)
    px = (
        f"CAST(floor((mx + {S.flit(W)} - x * {S.flit(span)}) / "
        f"{S.flit(span / res)}) AS BIGINT)"
    )
    py = (
        f"CAST(floor(({S.flit(W)} - y * {S.flit(span)} - my) / "
        f"{S.flit(span / res)}) AS BIGINT)"
    )
    return f"""
WITH {S.point_cte('orders', 'o_orderkey')},
t AS (SELECT id, mx, my, {tx} AS x, {ty} AS y FROM pts),
b AS (
  SELECT x, y, LEAST({px}, {res - 1}) AS px, LEAST({py}, {res - 1}) AS py
  FROM t
),
cells AS (
  SELECT x, y, px, py, COUNT(*) AS c FROM b GROUP BY 1, 2, 3, 4
)
SELECT x, y, CAST(SUM(c) AS BIGINT) AS n_points,
       CAST(COUNT(*) AS BIGINT) AS n_occupied,
       CAST(SUM(c * c) AS BIGINT) AS sum_c2
FROM cells GROUP BY 1, 2
"""

MS_THR = 127000  # q_marching_squares iso threshold (x1000 luma mid)

MS_N = 150  # corpus size (3 grid self-joins in the twin: keep it bounded)

def q_marching_squares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5 iso-contour extraction (raster.marching_squares_stats —
    midpoint marching squares, exact doubled-integer endpoints) with a
    FULL oracle: DuckDB regenerates every pixel from the shared CTE
    chain, rebuilds the 2×2 cell corners by three grid self-joins,
    classifies crossed edges, and replays segment counts and the
    saddle-invariant endpoint coordinate sums bit-for-bit."""
    from mapnik_vector_tile_spark.operators.raster import (
        marching_squares_stats,
    )
    from mapnik_vector_tile_spark.sources.synth import images_df

    return marching_squares_stats(images_df(spark, MS_N), thr=MS_THR)

def _sql_marching_squares(n: int = MS_N, thr: int = MS_THR) -> str:
    return f"""
WITH {_img_pixel_ctes(n)},
bgrid AS (
  SELECT i, y, x,
         (r * 299 + g * 587 + b * 114 > {thr}) AS bv
  FROM chan
),
cells AS (
  SELECT a.i, a.y, a.x,
         (a.bv <> r.bv) AS e_top, (d.bv <> dr.bv) AS e_bot,
         (a.bv <> d.bv) AS e_left, (r.bv <> dr.bv) AS e_right
  FROM bgrid a
  JOIN bgrid r  ON r.i = a.i AND r.y = a.y AND r.x = a.x + 1
  JOIN bgrid d  ON d.i = a.i AND d.x = a.x AND d.y = a.y + 1
  JOIN bgrid dr ON dr.i = a.i AND dr.y = a.y + 1 AND dr.x = a.x + 1
),
agg AS (
  SELECT i, COUNT(*) AS n_cells,
         SUM(CASE WHEN e_top THEN 1 ELSE 0 END
             + CASE WHEN e_bot THEN 1 ELSE 0 END
             + CASE WHEN e_left THEN 1 ELSE 0 END
             + CASE WHEN e_right THEN 1 ELSE 0 END) AS crossed,
         SUM(CASE WHEN e_top THEN 2 * x + 1 ELSE 0 END
             + CASE WHEN e_bot THEN 2 * x + 1 ELSE 0 END
             + CASE WHEN e_left THEN 2 * x ELSE 0 END
             + CASE WHEN e_right THEN 2 * x + 2 ELSE 0 END) AS ex_sum,
         SUM(CASE WHEN e_top THEN 2 * y ELSE 0 END
             + CASE WHEN e_bot THEN 2 * y + 2 ELSE 0 END
             + CASE WHEN e_left THEN 2 * y + 1 ELSE 0 END
             + CASE WHEN e_right THEN 2 * y + 1 ELSE 0 END) AS ey_sum
  FROM cells GROUP BY i
)
SELECT 'img_' || lpad(CAST(a.i AS VARCHAR), 12, '0') AS image_id,
       CAST(n_cells AS BIGINT) AS n_cells,
       CAST(crossed // 2 AS BIGINT) AS n_segments,
       CAST(ex_sum AS BIGINT) AS ex_sum,
       CAST(ey_sum AS BIGINT) AS ey_sum,
       caps.caption AS caption
FROM agg a JOIN caps ON a.i = caps.i
"""

def q_image_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T12f the IMAGE-side curation pipeline COMPOSED end-to-end: blur gate
    (laplacian_stats, thr=23000) → perceptual exact-dedup
    (image_dhash first-occurrence keep among the sharp survivors — the
    synthetic corpus has 7 colliding dhash values, so the dup branch
    carries rows) → per-image stage ∈ {{blurry, dup, kept}}. Captions
    ride through per the north-rule invariant. FULL oracle: DuckDB
    regenerates both pixel pipelines (8-bit luma Laplacian AND the
    ×1000 ITU-601 9×8 dHash grid) from one shared pixel CTE and
    replays the stage decision."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators.raster import (
        image_dhash,
        laplacian_stats,
    )
    from mapnik_vector_tile_spark.sources.synth import images_df

    imgs = images_df(spark, IMG_TH_N)
    bl = laplacian_stats(imgs, blur_thr=LAP_BLUR_THR).select(
        "image_id", "is_blurry"
    )
    dh = image_dhash(imgs).select("image_id", "dhash", "caption")
    j = dh.join(bl, "image_id")
    # first sharp occurrence per dhash (ids are zero-padded: lexical
    # MIN == numeric MIN in both engines)
    first_sharp = F.min(
        F.when(~F.col("is_blurry"), F.col("image_id"))
    ).over(Window.partitionBy("dhash"))
    stage = (
        F.when(F.col("is_blurry"), F.lit("blurry"))
        .when(F.col("image_id") != first_sharp, F.lit("dup"))
        .otherwise(F.lit("kept"))
    )
    return j.select("image_id", stage.alias("stage"), "caption")

def _sql_image_curation(n: int = IMG_TH_N, thr: int = LAP_BLUR_THR) -> str:
    # chan is referenced TWICE here (lap chain + gvals) — materialize
    # it once so the splitmix pixel chain isn't evaluated twice (r5
    # sweep-cost trim; measured ~8 s -> ~5.5 s, identical output)
    return f"""
WITH {_img_pixel_ctes(n)},
chanm AS MATERIALIZED (SELECT * FROM chan),
{_IMG_LUM_LAP.replace("FROM chan", "FROM chanm")},
blur AS (
  SELECT i,
         (COUNT(*) = 0 OR COUNT(*) * SUM(l * l) - SUM(l) * SUM(l)
            < {thr} * COUNT(*) * COUNT(*)) AS is_blurry
  FROM lap
  WHERE x BETWEEN 1 AND w - 2 AND y BETWEEN 1 AND h - 2
  GROUP BY i
),
gvals AS (
  SELECT i,
         ((((y + 1) * 8) - 1) // h) AS ty,
         ((((x + 1) * 9) - 1) // w) AS tx,
         r * 299 + g * 587 + b * 114 AS gray
  FROM chanm
),
gcells AS (
  SELECT i, ty, tx, SUM(gray) // COUNT(*) AS cg
  FROM gvals GROUP BY 1, 2, 3
),
gbits AS (
  SELECT a.i, a.ty, a.tx,
         CASE WHEN a.cg > b.cg THEN 1 ELSE 0 END AS bit
  FROM gcells a JOIN gcells b
    ON a.i = b.i AND a.ty = b.ty AND b.tx = a.tx + 1
  WHERE a.tx < 8
),
packed AS (
  SELECT i,
         SUM(CAST(bit AS HUGEINT) << CAST(ty * 8 + tx AS INT)) AS raw
  FROM gbits GROUP BY 1
),
rows_ AS (
  SELECT 'img_' || lpad(CAST(p.i AS VARCHAR), 12, '0') AS image_id,
         p.raw AS dhash, b.is_blurry, caps.caption
  FROM packed p JOIN blur b ON p.i = b.i JOIN caps ON p.i = caps.i
),
staged AS (
  SELECT image_id, caption, is_blurry,
         MIN(CASE WHEN NOT is_blurry THEN image_id END)
           OVER (PARTITION BY dhash) AS first_sharp
  FROM rows_
)
SELECT image_id,
       CASE WHEN is_blurry THEN 'blurry'
            WHEN image_id <> first_sharp THEN 'dup'
            ELSE 'kept' END AS stage,
       caption
FROM staged
"""

def q_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T21b dHash fingerprinting (raster.image_dhash — imagehash.dhash
    semantics) over the canonical images table, bit-exact: decode
    (raw-rgba8 AND png-zlib rows), integer ITU-601 luma, exact 9x8
    box-average, horizontal-gradient sign bits packed row-major into a
    signed int64. The DuckDB twin regenerates every pixel
    closed-form, replays the luma, the floor-div cell means, the
    neighbor compares and the HUGEINT bit packing with a signed wrap —
    a single wrong pixel, cell boundary, or bit position breaks the
    hash. sf_dir unused (committed synth recipe)."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators.raster import image_dhash
    from mapnik_vector_tile_spark.sources.synth import images_df

    imgs = images_df(spark, IMG_TH_N)
    return image_dhash(imgs).select(
        "image_id", "dhash", F.length("caption").cast("long").alias("cap_len")
    )

def _sql_image_dhash(n: int = IMG_TH_N) -> str:
    from mapnik_vector_tile_spark.sources.synth import _WORDS

    nw = len(_WORDS)
    words = "[" + ", ".join(f"'{w}'" for w in _WORDS) + "]"
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {n - 1})) AS i),
dims AS (
  SELECT i, 16 + (i * 7) % 49 AS w, 16 + (i * 11) % 49 AS h,
         {splitmix64_sql('i')} AS ph
  FROM ids
),
ys AS (SELECT i, w, h, ph, unnest(generate_series(0, h - 1)) AS y FROM dims),
pix AS (
  SELECT i, w, h, y, unnest(generate_series(0, w - 1)) AS x
  FROM ys
),
chan AS (
  SELECT i, w, h, y, x,
         CAST(({splitmix64_sql('(y * w + x + i * 65537)')}) % 64 AS BIGINT)
           AS noise
  FROM pix
),
vals AS (
  SELECT i,
         ((((y + 1) * 8) - 1) // h) AS ty,
         ((((x + 1) * 9) - 1) // w) AS tx,
         (((x * 255) // (w - 1) + noise) % 256) * 299
           + (((y * 255) // (h - 1) + noise) % 256) * 587
           + ((((x + y) * 255) // (w + h - 2) + noise) % 256) * 114
           AS gray
  FROM chan
),
cells AS (
  SELECT i, ty, tx, SUM(gray) // COUNT(*) AS cg
  FROM vals GROUP BY 1, 2, 3
),
bits AS (
  SELECT a.i, a.ty, a.tx,
         CASE WHEN a.cg > b.cg THEN 1 ELSE 0 END AS bit
  FROM cells a JOIN cells b
    ON a.i = b.i AND a.ty = b.ty AND b.tx = a.tx + 1
  WHERE a.tx < 8
),
packed AS (
  -- HUGEINT shifts, never ** (that returns DOUBLE and loses bits >53)
  SELECT i,
         SUM(CAST(bit AS HUGEINT) << CAST(ty * 8 + tx AS INT)) AS raw
  FROM bits GROUP BY 1
),
caps AS (
  SELECT i,
         'caption ' || CAST(i AS VARCHAR) || ': '
           || {words}[CAST(ph % {nw} AS INT) + 1] || ' '
           || {words}[CAST((ph // 64) % {nw} AS INT) + 1] || ' '
           || {words}[CAST((ph // 4096) % {nw} AS INT) + 1] AS caption
  FROM dims
)
SELECT 'img_' || lpad(CAST(p.i AS VARCHAR), 12, '0') AS image_id,
       CAST(CASE WHEN raw >= (CAST(1 AS HUGEINT) << 63)
                 THEN raw - (CAST(1 AS HUGEINT) << 64)
                 ELSE raw END AS BIGINT) AS dhash,
       CAST(length(caps.caption) AS BIGINT) AS cap_len
FROM packed p JOIN caps ON p.i = caps.i
"""

LBOX_N = 200  # q_letterbox corpus size (twin regenerates 200*64*64 px)

LBOX_T = 64  # q_letterbox canvas side

LBOX_FILL = (7, 9, 11, 255)  # non-zero so the twin pins the padding too

def q_letterbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T12c letterbox preprocessing (raster.letterbox_images): decode,
    aspect-fit nearest-neighbor resample to the long side, center-pad
    to 64x64 with a NON-ZERO fill. The gate hashes position-weighted
    channel sums of the EMITTED canvas bytes (weight = ty·64+tx+1), so
    a wrong source index, a one-pixel paste offset, or any stray
    padding byte breaks the hash; the twin regenerates every source
    pixel and replays the floor-mapped resample + centered paste +
    fill closed-form. sf_dir unused (committed synth recipe)."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.operators.raster import letterbox_images
    from mapnik_vector_tile_spark.sources.synth import images_df

    lb = letterbox_images(images_df(spark, LBOX_N), target=LBOX_T,
                          fill=LBOX_FILL)

    def gen(it):
        wgt = (np.arange(LBOX_T * LBOX_T, dtype=np.int64) + 1).reshape(
            LBOX_T, LBOX_T
        )
        for pdf in it:
            out = {"image_id": [], "ox": [], "oy": [], "nw": [], "nh": [],
                   "wr": [], "wg": [], "wb": [], "caption": []}
            for r in pdf.itertuples():
                a = (
                    np.frombuffer(r.canvas, np.uint8)
                    .reshape(LBOX_T, LBOX_T, 4)
                    .astype(np.int64)
                )
                out["image_id"].append(r.image_id)
                out["ox"].append(int(r.ox))
                out["oy"].append(int(r.oy))
                out["nw"].append(int(r.nw))
                out["nh"].append(int(r.nh))
                out["wr"].append(int((wgt * a[..., 0]).sum()))
                out["wg"].append(int((wgt * a[..., 1]).sum()))
                out["wb"].append(int((wgt * a[..., 2]).sum()))
                out["caption"].append(r.caption)
            yield pd.DataFrame(out)

    return lb.mapInPandas(
        gen,
        schema="image_id string, ox int, oy int, nw int, nh int, "
        "wr long, wg long, wb long, caption string",
    )

def _sql_letterbox(n: int = LBOX_N, t: int = LBOX_T) -> str:
    from mapnik_vector_tile_spark.sources.synth import _WORDS

    nw_words = len(_WORDS)
    words = "[" + ", ".join(f"'{w}'" for w in _WORDS) + "]"
    s_all = t * t * (t * t + 1) // 2  # sum of all weights
    fr, fg, fb = LBOX_FILL[0], LBOX_FILL[1], LBOX_FILL[2]
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {n - 1})) AS i),
dims AS (
  SELECT i, 16 + (i * 7) % 49 AS w, 16 + (i * 11) % 49 AS h,
         {splitmix64_sql('i')} AS ph
  FROM ids
),
fit AS (
  SELECT i, w, h, ph,
         CASE WHEN w >= h THEN {t} ELSE GREATEST(1, (w * {t}) // h) END
           AS nw,
         CASE WHEN w >= h THEN GREATEST(1, (h * {t}) // w) ELSE {t} END
           AS nh
  FROM dims
),
off AS (
  SELECT *, ({t} - nw) // 2 AS ox, ({t} - nh) // 2 AS oy FROM fit
),
tys AS (SELECT o.*, unnest(generate_series(o.oy, o.oy + o.nh - 1)) AS ty
        FROM off o),
tpix AS (
  SELECT i, w, h, nw, nh, ox, oy, ty,
         unnest(generate_series(ox, ox + nw - 1)) AS tx
  FROM tys
),
src AS (
  SELECT i, w, h, ty, tx,
         ((ty - oy) * h) // nh AS sy,
         ((tx - ox) * w) // nw AS sx
  FROM tpix
),
chan AS (
  SELECT i, ty, tx, sx, sy, w, h,
         CAST(({splitmix64_sql('(sy * w + sx + i * 65537)')}) % 64
              AS BIGINT) AS noise
  FROM src
),
vals AS (
  SELECT i, (ty * {t} + tx + 1) AS wgt,
         ((sx * 255) // (w - 1) + noise) % 256 AS r,
         ((sy * 255) // (h - 1) + noise) % 256 AS g,
         (((sx + sy) * 255) // (w + h - 2) + noise) % 256 AS b
  FROM chan
),
inner_w AS (
  SELECT i,
         CAST(SUM(wgt * r) AS BIGINT) AS ir,
         CAST(SUM(wgt * g) AS BIGINT) AS ig,
         CAST(SUM(wgt * b) AS BIGINT) AS ib,
         CAST(SUM(wgt) AS BIGINT) AS iw
  FROM vals GROUP BY 1
),
caps AS (
  SELECT i,
         'caption ' || CAST(i AS VARCHAR) || ': '
           || {words}[CAST(ph % {nw_words} AS INT) + 1] || ' '
           || {words}[CAST((ph // 64) % {nw_words} AS INT) + 1] || ' '
           || {words}[CAST((ph // 4096) % {nw_words} AS INT) + 1]
           AS caption
  FROM dims
)
SELECT 'img_' || lpad(CAST(o.i AS VARCHAR), 12, '0') AS image_id,
       CAST(o.ox AS INT) AS ox, CAST(o.oy AS INT) AS oy,
       CAST(o.nw AS INT) AS nw, CAST(o.nh AS INT) AS nh,
       iw0.ir + {fr} * ({s_all} - iw0.iw) AS wr,
       iw0.ig + {fg} * ({s_all} - iw0.iw) AS wg,
       iw0.ib + {fb} * ({s_all} - iw0.iw) AS wb,
       caps.caption AS caption
FROM off o JOIN inner_w iw0 ON o.i = iw0.i JOIN caps ON o.i = caps.i
"""

AUG_N = 120  # q_augment corpus size

AUG_EPOCHS = 2

def q_augment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T12d deterministic augmentation gate (raster.augment_images):
    decode, hash-assign one of six flip/rotate ops per (image, epoch),
    and hash position-weighted channel sums of the EMITTED transformed
    bytes — the weights make orientation load-bearing, so a wrong
    rotation direction, a flipped axis, or a dims swap breaks the
    hash. The twin regenerates source pixels closed-form and maps
    each to its destination index per the assigned op (inverse-free:
    weight computed at the mapped position)."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.operators.raster import augment_images
    from mapnik_vector_tile_spark.sources.synth import images_df

    aug = augment_images(images_df(spark, AUG_N), epochs=AUG_EPOCHS)

    def gen(it):
        for pdf in it:
            out = {"image_id": [], "epoch": [], "aug": [], "out_w": [],
                   "out_h": [], "wr": [], "wg": [], "wb": []}
            for r in pdf.itertuples():
                a = (
                    np.frombuffer(r.pixels, np.uint8)
                    .reshape(int(r.out_h), int(r.out_w), 4)
                    .astype(np.int64)
                )
                wgt = (
                    np.arange(int(r.out_h) * int(r.out_w), dtype=np.int64)
                    + 1
                ).reshape(int(r.out_h), int(r.out_w))
                out["image_id"].append(r.image_id)
                out["epoch"].append(int(r.epoch))
                out["aug"].append(r.aug)
                out["out_w"].append(int(r.out_w))
                out["out_h"].append(int(r.out_h))
                out["wr"].append(int((wgt * a[..., 0]).sum()))
                out["wg"].append(int((wgt * a[..., 1]).sum()))
                out["wb"].append(int((wgt * a[..., 2]).sum()))
            yield pd.DataFrame(out)

    return aug.mapInPandas(
        gen,
        schema="image_id string, epoch int, aug string, out_w int, "
        "out_h int, wr long, wg long, wb long",
    )

def _sql_augment(n: int = AUG_N, epochs: int = AUG_EPOCHS) -> str:
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {n - 1})) AS i),
eps AS (SELECT i, unnest(generate_series(0, {epochs - 1})) AS ep FROM ids),
pick AS (
  SELECT i, ep,
         CAST(({splitmix64_sql('(i + ep * 4294967296)')}) % 6 AS BIGINT)
           AS a
  FROM eps
),
dims AS (
  SELECT p.i, p.ep, p.a,
         16 + (p.i * 7) % 49 AS w, 16 + (p.i * 11) % 49 AS h
  FROM pick p
),
ys AS (SELECT d.*, unnest(generate_series(0, h - 1)) AS y FROM dims d),
pix AS (SELECT ys.*, unnest(generate_series(0, w - 1)) AS x FROM ys),
chan AS (
  SELECT i, ep, a, w, h, x, y,
         CAST(({splitmix64_sql('(y * w + x + i * 65537)')}) % 64
              AS BIGINT) AS noise
  FROM pix
),
mapped AS (
  SELECT i, ep, a, w, h,
         CASE a WHEN 0 THEN x WHEN 1 THEN w - 1 - x WHEN 2 THEN x
                WHEN 3 THEN h - 1 - y WHEN 4 THEN w - 1 - x
                ELSE y END AS tx,
         CASE a WHEN 0 THEN y WHEN 1 THEN y WHEN 2 THEN h - 1 - y
                WHEN 3 THEN x WHEN 4 THEN h - 1 - y
                ELSE w - 1 - x END AS ty,
         CASE WHEN a IN (3, 5) THEN h ELSE w END AS ow,
         ((x * 255) // (w - 1) + noise) % 256 AS r,
         ((y * 255) // (h - 1) + noise) % 256 AS g,
         (((x + y) * 255) // (w + h - 2) + noise) % 256 AS b
  FROM chan
)
SELECT 'img_' || lpad(CAST(i AS VARCHAR), 12, '0') AS image_id,
       CAST(ep AS INT) AS epoch,
       CASE a WHEN 0 THEN 'identity' WHEN 1 THEN 'flip_h'
              WHEN 2 THEN 'flip_v' WHEN 3 THEN 'rot90'
              WHEN 4 THEN 'rot180' ELSE 'rot270' END AS aug,
       CAST(ANY_VALUE(ow) AS INT) AS out_w,
       CAST(CASE WHEN ANY_VALUE(a) IN (3, 5) THEN ANY_VALUE(w)
                 ELSE ANY_VALUE(h) END AS INT) AS out_h,
       CAST(SUM((ty * ow + tx + 1) * r) AS BIGINT) AS wr,
       CAST(SUM((ty * ow + tx + 1) * g) AS BIGINT) AS wg,
       CAST(SUM((ty * ow + tx + 1) * b) AS BIGINT) AS wb
FROM mapped
GROUP BY i, ep, a
"""

WDS_N = 400  # q_wds_roundtrip corpus size

def q_wds_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset tar shard sink/source gate with a FULL oracle — the
    training-corpus interchange leg of the north rule: the
    input_hint-shaped images table (image_id, bytes, w, h, fmt,
    caption, phash) is written through the SHARDED tar sink
    (sources/wds.py — one POSIX tar per partition, executor-side,
    pinned headers, {key}.{fmt}/{key}.json/{key}.txt members per the
    webdataset basename-grouping convention), read back through the
    source, and FULL-joined against the pre-write rows. Per image the
    output carries the read-back metadata (w, h, fmt, phash) and
    caption plus roundtrip_ok, TRUE only if payload bytes, caption,
    and every metadata field came back IDENTICAL with no
    extras/missing (full join turns asymmetry into nulls → false).
    The DuckDB twin replays dims, fmt, phash (signed), and the caption
    words closed-form from the synth corpus — it never sees a tar."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.sources.synth import images_df
    from mapnik_vector_tile_spark.sources.wds import (
        read_wds,
        write_wds_shards,
    )

    imgs = images_df(spark, WDS_N)
    out_dir = f"/tmp/mvt_wds_gate_{os.getpid()}"
    shutil.rmtree(out_dir, ignore_errors=True)
    write_wds_shards(imgs, out_dir, num_shards=8)
    back = read_wds(spark, out_dir)
    orig = imgs.select(
        "image_id",
        F.col("bytes").alias("o_bytes"),
        F.col("w").alias("o_w"),
        F.col("h").alias("o_h"),
        F.col("fmt").alias("o_fmt"),
        F.col("caption").alias("o_caption"),
        F.col("phash").alias("o_phash"),
    )
    j = orig.join(back, ["image_id"], "full")
    ok = (
        (F.col("bytes") == F.col("o_bytes"))
        & (F.col("caption") == F.col("o_caption"))
        & (F.col("w") == F.col("o_w"))
        & (F.col("h") == F.col("o_h"))
        & (F.col("fmt") == F.col("o_fmt"))
        & (F.col("phash") == F.col("o_phash"))
    )
    return j.select(
        "image_id",
        "caption",
        "w",
        "h",
        "fmt",
        "phash",
        F.coalesce(ok, F.lit(False)).alias("roundtrip_ok"),
    )

def _sql_wds_roundtrip(n: int = WDS_N) -> str:
    from mapnik_vector_tile_spark.sources.synth import _WORDS

    words = "[" + ", ".join(f"'{w}'" for w in _WORDS) + "]"
    nw = len(_WORDS)
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {n - 1})) AS i),
dims AS (
  SELECT i, 16 + (i * 7) % 49 AS w, 16 + (i * 11) % 49 AS h,
         {splitmix64_sql('i')} AS ph
  FROM ids
)
SELECT 'img_' || lpad(CAST(i AS VARCHAR), 12, '0') AS image_id,
       'caption ' || CAST(i AS VARCHAR) || ': '
         || {words}[CAST(ph % {nw} AS INT) + 1] || ' '
         || {words}[CAST((ph // 64) % {nw} AS INT) + 1] || ' '
         || {words}[CAST((ph // 4096) % {nw} AS INT) + 1] AS caption,
       CAST(w AS INT) AS w,
       CAST(h AS INT) AS h,
       CASE WHEN i % 10 = 9 THEN 'png-zlib' ELSE 'raw-rgba8' END AS fmt,
       CAST(CASE WHEN ph >= 9223372036854775808
                 THEN ph - 18446744073709551616 ELSE ph END
            AS BIGINT) AS phash,
       TRUE AS roundtrip_ok
FROM dims
"""

AR_N = 600  # q_ar_bucket_batches corpus size

def q_ar_bucket_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-ratio bucketing + fixed-size batch packing
    (sampling.ar_bucket_batches) over the input_hint images table with
    a FULL oracle — the batch former of image-model training
    (same-AR batches from a variable-AR corpus). Nearest-bucket choice
    is exact integer cross-multiplication (|w·d−h·n|·lcm/d, tie → the
    smaller index) so both engines bit-agree; packing ranks within
    (bucket, pmod(phash, shards)) so no single bucket ever serializes
    onto one task. The DuckDB twin replays dims and phash closed-form,
    re-derives the argmin over a VALUES bucket table, and repacks with
    the same window."""
    from mapnik_vector_tile_spark.operators.sampling import (
        ar_bucket_batches,
    )
    from mapnik_vector_tile_spark.sources.synth import images_df

    return ar_bucket_batches(
        images_df(spark, AR_N, with_bytes=False),
        batch_size=8,
        n_shards=4,
    )

def _sql_ar_bucket_batches(n: int = AR_N, b: int = 8) -> str:
    from mapnik_vector_tile_spark.operators.sampling import (
        AR_BUCKETS,
        _ar_lcm_den,
    )

    lcm = _ar_lcm_den()
    vals = ", ".join(
        f"({i}, {num}, {den}, {lcm // den})"
        for i, (num, den) in enumerate(AR_BUCKETS)
    )
    # n_shards = 4 divides 2^64, so pmod(signed phash, 4) equals the
    # UNSIGNED hash mod 4 — no signed reinterpretation needed here
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {n - 1})) AS i),
dims AS (
  SELECT i, 16 + (i * 7) % 49 AS w, 16 + (i * 11) % 49 AS h,
         {splitmix64_sql('i')} AS ph
  FROM ids
),
bk(idx, num, den, k) AS (VALUES {vals}),
scored AS (
  SELECT i, w, h, ph, idx, num, den,
         row_number() OVER (
           PARTITION BY i
           ORDER BY abs(w * den - h * num) * k, idx
         ) AS rk
  FROM dims CROSS JOIN bk
),
assigned AS (
  SELECT i, w, h, idx, num, den,
         CAST(ph % 4 AS INT) AS shard
  FROM scored WHERE rk = 1
),
packed AS (
  SELECT i, w, h, idx, num, den, shard,
         (row_number() OVER (
            PARTITION BY idx, shard
            ORDER BY i
          ) - 1) // {b} AS batch_id,
         COUNT(*) OVER (PARTITION BY idx, shard) // {b} AS n_full
  FROM assigned
)
SELECT 'img_' || lpad(CAST(i AS VARCHAR), 12, '0') AS image_id,
       CAST(w AS INT) AS w, CAST(h AS INT) AS h,
       CAST(idx AS INT) AS bucket,
       CAST(num AS INT) AS ratio_n, CAST(den AS INT) AS ratio_d,
       shard,
       CAST(batch_id AS BIGINT) AS batch_id,
       batch_id < n_full AS is_full
FROM packed
"""

MEASURES_N = 500  # q_geom_measures corpus size

def q_geom_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 geometry measures as PURE Column algebra with a FULL
    oracle (functions/measures.py — shoelace signed area, boundary
    length, vertex centroid; transform/zip_with/aggregate only, no
    UDF, no shuffle). Corpus: i%2 picks — 0: closed CCW rectangle
    (a2 = 2wh, length = 2(w+h)), 1: axis-aligned staircase polyline of
    k (right r, up u) steps (a2 = k·r·u via the wrap edge, length =
    k·(r+u), vertex means = x0 + rk(k+1)/(2k+1), y0 + uk²/(2k+1)).
    Every coordinate/dimension is dyadic and small, so every product
    and partial sum is EXACT in float64 — the engine's fold order and
    the twin's closed forms land on identical doubles, and the final
    divisions see identical operands. Ref parity: mapnik
    util::area/length/centroid over geometry<double>; SURVEY §2.9."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.functions import measures as M

    corpus = _measures_corpus(spark)
    return corpus.select(
        "feature_id",
        M.signed_area2().alias("a2"),
        M.boundary_length().alias("length"),
        M.vertex_mean("xs").alias("vx"),
        M.vertex_mean("ys").alias("vy"),
    )

def _measures_corpus(spark: SparkSession, n: int = None) -> DataFrame:
    """The shared dyadic-exact measures corpus (see q_geom_measures
    doc): even i -> closed CCW rectangle, odd i -> axis-aligned
    staircase polyline; every coordinate exact in float64."""
    import pandas as pd

    if n is None:
        n = MEASURES_N

    def gen(it):
        from mapnik_vector_tile_spark.functions import geomcodec as gc

        for pdf in it:
            ids = pdf["id"].to_numpy()
            if not len(ids):
                continue
            rows = {"feature_id": [], "geom_type": [], "xs": [], "ys": [],
                    "part_offsets": [], "caption": []}
            for i in ids:
                i = int(i)
                x0 = -200.0 + (i * 3) % 400 + 0.125
                y0 = -100.0 + (i * 7) % 200 + 0.0625
                if i % 2 == 0:
                    w = 1 + i % 9 + 0.25
                    h = 2 + i % 7 + 0.5
                    xs = [x0, x0 + w, x0 + w, x0, x0]
                    ys = [y0, y0, y0 + h, y0 + h, y0]
                    gt = gc.GEOM_POLYGON
                else:
                    r = 1 + i % 5 + 0.5
                    u = 2 + i % 3 + 0.25
                    k = 2 + i % 4
                    xs, ys = [x0], [y0]
                    for j in range(1, k + 1):
                        xs.append(x0 + j * r); ys.append(y0 + (j - 1) * u)
                        xs.append(x0 + j * r); ys.append(y0 + j * u)
                    gt = gc.GEOM_LINESTRING
                rows["feature_id"].append(i)
                rows["geom_type"].append(int(gt))
                rows["xs"].append(xs)
                rows["ys"].append(ys)
                rows["part_offsets"].append([0, len(xs)])
                rows["caption"].append("")
            yield pd.DataFrame(rows)

    from mapnik_vector_tile_spark.operators.tiling import FEATURES_SCHEMA

    return spark.range(0, n, 1, 8).mapInPandas(gen, schema=FEATURES_SCHEMA)
