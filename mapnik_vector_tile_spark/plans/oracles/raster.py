"""Oracle pairs for raster tiles and image operators
(operators.raster, and the phash near-duplicate joins of
operators.dedup).

Most twins regenerate the synthetic images or terrain tiles from the
same splitmix64 recipe in SQL (`_img_pixel_ctes`, `_dem_ctes`), so the
value hash covers every pixel the Spark side computes.

`pairs()` maps each query key to (spark_fn, oracle SQL template);
`plans.oracles.sql_pairs()` merges the families."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mapnik_vector_tile_spark.plans import shared_sql as S
from mapnik_vector_tile_spark.plans.shared_sql import splitmix64_sql


RT_N = 48  # q_raster_tiles oracle corpus size
RT_Z = 4
RT_T = 64


def _rasterize_summary(images: DataFrame) -> DataFrame:
    """Rasterize footprinted `images` to z RT_Z png tiles and sum each
    tile's red channel: the tail of q_raster_tiles and q_geotiff_tiles
    that _sql_raster_tiles replays."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import raster as R

    tiles = R.rasterize_images(
        images, z=RT_Z, tile_size=RT_T, method="bilinear", out_fmt="png-zlib"
    )

    def summarize(it):
        for pdf in it:
            out: dict[str, list] = {
                "x": [], "y": [], "n_images": [], "px_sum": [],
            }
            for xx, yy, ni, raster in zip(
                pdf["x"], pdf["y"], pdf["n_images"], pdf["raster"]
            ):
                img = R.decode_image(bytes(raster), "png-zlib", RT_T, RT_T)
                out["x"].append(int(xx))
                out["y"].append(int(yy))
                out["n_images"].append(int(ni))
                out["px_sum"].append(int(img[:, :, 0].astype(np.int64).sum()))
            yield pd.DataFrame(out)

    return tiles.mapInPandas(
        summarize, schema="x long, y long, n_images long, px_sum long"
    ).select(F.lit(RT_Z).alias("z"), "x", "y", "n_images", "px_sum")


def q_raster_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 raster materialization through the FULL warp path — decode →
    bilinear resample_to_tile → painter's composite (ascending idx) →
    quantize → png-zlib encode — with a FULL value-hash oracle since
    round 2 (the q_raster_overzoom technique applied to the main warp):
    the corpus is 48 ramp images whose merc bboxes are exactly
    tile-aligned (k×k whole tiles at z=4, k∈{1,2}, w=h=k·64), so the
    bilinear warp degenerates to an eps-robust exact pixel copy
    (|FX−c| ≲ 1e-12 ⇒ quantize(round-half-away) returns the source
    byte), painter's winner is uniform per tile (max idx among
    covering images), and DuckDB regenerates per-tile channel-0 pixel
    sums closed-form. The float tile fan-out (tile_x_col/tile_y_col on
    the bbox) is mirrored op-for-op in SQL so straggler tiles from
    boundary ulps agree bit-for-bit; fractional (non-aligned) warps
    stay pinned by tests/test_raster.py's PSNR + kernel oracles.
    sf_dir is unused: the subject is the warp kernel, not the scan."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.functions import tilemath as tm
    from mapnik_vector_tile_spark.operators import raster as R
    from mapnik_vector_tile_spark.sources.synth import splitmix64

    span = tm.tile_span(RT_Z)

    def gen(it):
        for pdf in it:
            rows: dict[str, list] = {
                "idx": [], "bytes": [], "w": [], "h": [], "fmt": [],
                "caption": [], "minx": [], "maxx": [], "miny": [], "maxy": [],
            }
            for i in pdf["id"]:
                i = int(i)
                h = int(splitmix64(np.array([i], dtype=np.uint64))[0])
                x0 = h % 13
                y0 = (h >> 8) % 13
                k = 1 + ((h >> 16) % 2)
                phase = h % 251
                t = np.arange(k * RT_T, dtype=np.int64)
                v = ((t[:, None] * 3 + t[None, :] * 5 + phase) % 256).astype(
                    np.uint8
                )
                rgba = np.repeat(v[..., None], 4, axis=2)
                rows["idx"].append(i)
                rows["bytes"].append(R.encode_image(rgba, "raw-rgba8"))
                rows["w"].append(k * RT_T)
                rows["h"].append(k * RT_T)
                rows["fmt"].append("raw-rgba8")
                rows["caption"].append(f"img-{i}")
                rows["minx"].append(-tm.W + np.float64(x0) * span)
                rows["maxx"].append(-tm.W + np.float64(x0 + k) * span)
                rows["miny"].append(tm.W - np.float64(y0 + k) * span)
                rows["maxy"].append(tm.W - np.float64(y0) * span)
            yield pd.DataFrame(rows)

    images = spark.range(RT_N).mapInPandas(
        gen,
        schema=(
            "idx long, bytes binary, w int, h int, fmt string, "
            "caption string, minx double, maxx double, miny double, "
            "maxy double"
        ),
    )
    return _rasterize_summary(images)


RASTERIZE_SIZE = 64
RASTERIZE_POLYS = 120


def q_rasterize_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4 vector→raster materialization with a FULL oracle: the
    deterministic concave/holed polygons (integer tile coords,
    sources.synth.gen_raster_polys) are wire-encoded
    (encode_geometry → LayerBuilder), decoded back, and scanline-filled
    at tile_size=64 by raster.fill_polygon_mask; output is the
    per-scanline filled-pixel count. The DuckDB twin inlines the same
    integer vertices and replays the fill kernel's exact arithmetic —
    crossing test (y_cur>yc)!=(y_prev>yc), the xint interpolation in
    the same operation order over dyadic-exact scaled coords (ints ×
    2^-6), c0 = ceil(xint − 0.5), per-pixel parity of #(c0 ≤ c) — so
    every row count matches bit-exactly, not statistically. sf_dir is
    unused: the subject is the rasterizer kernel, not the scan."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.functions import geomcodec as gc
    from mapnik_vector_tile_spark.functions import pbf
    from mapnik_vector_tile_spark.operators.raster import rasterize_features
    from mapnik_vector_tile_spark.sources.synth import gen_raster_polys

    size = RASTERIZE_SIZE
    rows = []
    for p in gen_raster_polys(RASTERIZE_POLYS):
        xs: list[int] = []
        ys: list[int] = []
        offs = [0]
        for ring in p["rings"]:
            xs += [v[0] for v in ring]
            ys += [v[1] for v in ring]
            offs.append(len(xs))
        rows.append((p["poly_id"], xs, ys, offs))
    src = spark.createDataFrame(
        rows,
        schema="poly_id long, xs array<int>, ys array<int>, offs array<int>",
    ).repartition(8, "poly_id")

    def enc(batches):
        for b in batches:
            out = {"z": [], "x": [], "y": [], "blob": []}
            for pid, pxs, pys, poffs in zip(
                b["poly_id"], b["xs"], b["ys"], b["offs"]
            ):
                stream = gc.encode_geometry(
                    gc.GEOM_POLYGON,
                    np.asarray(pxs, dtype=np.int64),
                    np.asarray(pys, dtype=np.int64),
                    np.asarray(poffs, dtype=np.int64),
                )
                lb = pbf.LayerBuilder("poly", extent=4096)
                lb.add_feature(int(pid), gc.GEOM_POLYGON, stream, {})
                out["z"].append(9)
                out["x"].append(int(pid))
                out["y"].append(int(pid))
                out["blob"].append(lb.build())
            yield pd.DataFrame(out)

    layers = src.mapInPandas(enc, schema="z int, x long, y long, blob binary")
    bitmaps = rasterize_features(layers, tile_size=size)

    def rowcounts(batches):
        for b in batches:
            out = {"poly_id": [], "prow": [], "n_row": []}
            for x, bm in zip(b["x"], b["bitmap"]):
                mask = np.unpackbits(
                    np.frombuffer(bytes(bm), dtype=np.uint8)
                ).reshape(size, size)
                out["poly_id"] += [int(x)] * size
                out["prow"] += list(range(size))
                out["n_row"] += [int(v) for v in mask.sum(axis=1)]
            yield pd.DataFrame(out)

    return bitmaps.mapInPandas(
        rowcounts, schema="poly_id long, prow int, n_row long"
    )


def _sql_rasterize_coverage(
    n_polys: int = RASTERIZE_POLYS, size: int = RASTERIZE_SIZE
) -> str:
    """DuckDB twin of q_rasterize_coverage — see its docstring for the
    bit-exactness argument. Edges are (prev → cur) with ring wraparound,
    exactly the fill kernel's j/i iteration."""
    from mapnik_vector_tile_spark.sources.synth import gen_raster_polys

    rows = []
    for p in gen_raster_polys(n_polys):
        pid = p["poly_id"]
        for ring in p["rings"]:
            for i in range(len(ring)):
                x1, y1 = ring[i - 1]  # prev (i=0 wraps to last)
                x2, y2 = ring[i]  # cur
                rows.append(f"({pid},{x1},{y1},{x2},{y2})")
    values = ",\n".join(rows)
    sc = S.flit(size / 4096.0)  # dyadic: int * sc is exact in f64
    half = S.flit(0.5)
    return f"""
WITH edges(poly_id, x1, y1, x2, y2) AS (VALUES
{values}),
se AS (
  SELECT poly_id, x1 * {sc} AS x1, y1 * {sc} AS y1,
         x2 * {sc} AS x2, y2 * {sc} AS y2
  FROM edges),
rg AS (SELECT unnest(generate_series(0, {size - 1})) AS r),
cg AS (SELECT unnest(generate_series(0, {size - 1})) AS c),
cr AS (
  SELECT e.poly_id, g.r,
         CAST(ceil((e.x1 - e.x2) * ((g.r + {half}) - e.y2)
              / (e.y1 - e.y2) + e.x2 - {half}) AS BIGINT) AS c0
  FROM se e JOIN rg g
    ON ((e.y2 > g.r + {half}) != (e.y1 > g.r + {half}))),
pg AS (SELECT DISTINCT poly_id FROM edges),
grid AS (SELECT p.poly_id, g.r, c.c FROM pg p CROSS JOIN rg g CROSS JOIN cg c),
cnt AS (
  SELECT gr.poly_id, gr.r, gr.c, COUNT(cr.c0) AS n
  FROM grid gr LEFT JOIN cr
    ON cr.poly_id = gr.poly_id AND cr.r = gr.r AND cr.c0 <= gr.c
  GROUP BY 1, 2, 3)
SELECT poly_id, CAST(r AS INTEGER) AS prow,
       CAST(SUM(CASE WHEN n % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_row
FROM cnt GROUP BY 1, 2
"""


def _phash_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic clustered 63-bit phashes from customer keys
    (clusters of 3 — base splitmix64, one-bit flip, two-bit flip);
    shared by q_phash_neardup and q_phash_mi."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.sources.synth import splitmix64

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select("c_custkey")

    def gen(it):
        for pdf in it:
            k = pdf["c_custkey"].to_numpy().astype(np.int64)
            if not len(k):
                continue
            cl = k // 3
            m = k % 3
            base = (
                splitmix64((cl * 1000003).astype(np.uint64))
                >> np.uint64(1)
            ).astype(np.int64)
            one = np.int64(1)
            f1 = base ^ (one << (cl % 63))
            f2 = (
                base
                ^ (one << ((cl * 7 + 13) % 63))
                ^ (one << ((cl * 11 + 29) % 63))
            )
            h = np.where(m == 1, f1, np.where(m == 2, f2, base))
            yield pd.DataFrame({"image_id": k, "phash": h})

    return cust.mapInPandas(gen, schema="image_id long, phash long")


def q_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T21 perceptual-hash image near-dup with a FULL independent
    oracle: deterministic clustered 63-bit phashes (_phash_corpus),
    the ENGINE finds pairs via the lossless 8-band Hamming-LSH
    self-join (dedup.phash_neardup_pairs, pigeonhole guarantee for
    Hamming<=6), and DuckDB finds the same pairs by BRUTE-FORCE
    all-pairs bit_count(xor) — algorithm-independent, so a banding
    bug (lossy candidate set) or a refine bug both break the hash."""
    from mapnik_vector_tile_spark.operators import dedup as D

    imgs = _phash_corpus(spark, sf_dir)
    # exact clique path: the brute-force oracle enumerates all pairs
    # (star-guard behavior is pytest-gated, not oracle-gated)
    pairs = D.phash_neardup_pairs(imgs, max_hamming=6, hot_bucket_limit=None)
    from pyspark.sql import functions as F

    return pairs.select(
        "img_a", "img_b", F.col("hamming").cast("int").alias("hamming")
    )


def q_phash_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T21 multi-index Hamming join (dedup.phash_neardup_pairs_mi —
    the sub-quadratic 4×16-bit-band + 1-flip-probe form the sf1.0
    spot-run motivated) over the SAME clustered-phash corpus as
    q_phash_neardup, against the SAME brute-force all-pairs twin:
    both algorithms are exact for Hamming ≤ 6, so the value hashes
    must agree — a lost probe, a wrong flip mask, or a broken
    pigeonhole bound all break it."""
    from mapnik_vector_tile_spark.operators import dedup as D
    from pyspark.sql import functions as F

    imgs = _phash_corpus(spark, sf_dir)
    pairs = D.phash_neardup_pairs_mi(
        imgs, max_hamming=6, hot_bucket_limit=None
    )
    return pairs.select(
        "img_a", "img_b", F.col("hamming").cast("int").alias("hamming")
    )


def _sql_phash_neardup() -> str:
    base = f"CAST(({splitmix64_sql('cl * 1000003')}) // 2 AS BIGINT)"
    return f"""
WITH ks AS (SELECT c_custkey AS k, c_custkey // 3 AS cl, c_custkey % 3 AS m
            FROM customer),
hb AS (SELECT k, cl, m, {base} AS base FROM ks),
ph AS (SELECT k AS img,
              CASE WHEN m = 1
                   THEN xor(base, CAST(1 AS BIGINT) << (cl % 63))
                   WHEN m = 2
                   THEN xor(xor(base,
                                CAST(1 AS BIGINT) << ((cl * 7 + 13) % 63)),
                            CAST(1 AS BIGINT) << ((cl * 11 + 29) % 63))
                   ELSE base END AS h
       FROM hb)
SELECT a.img AS img_a, b.img AS img_b,
       CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming
FROM ph a JOIN ph b ON a.img < b.img
WHERE bit_count(xor(a.h, b.h)) <= 6
"""


RZO_N = 24  # raster-overzoom oracle corpus: parent tiles
RZO_T = 64  # and their pixel grid


def q_raster_overzoom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 overzoom (child raster tiles served from stored parents) with
    a FULL integer-exact oracle: 24 synthetic z6 parent tiles whose
    pixels are the ramp (r*3 + c*5 + phase) % 256 with
    phase = splitmix64(idx) % 251, overzoomed dz=1 with
    method='nearest' (raw-rgba8, lossless). Nearest at dz=1 is exact
    pixel replication child[r,c] = parent[(cy*T+r)//2, (cx*T+c)//2],
    so the per-child channel-0 pixel sums are pure integer arithmetic
    DuckDB regenerates closed-form — gating the decode → A.9 resample
    → quantize → codec round trip and the fan-out addressing."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.operators import raster as R
    from mapnik_vector_tile_spark.sources.synth import splitmix64

    ids = spark.range(RZO_N)

    def gen(it):
        for pdf in it:
            rows: dict[str, list] = {
                "z": [], "x": [], "y": [], "raster": [],
                "n_images": [], "captions": [],
            }
            for i in pdf["id"]:
                i = int(i)
                phase = int(splitmix64(np.array([i], dtype=np.uint64))[0]
                            % np.uint64(251))
                r = np.arange(RZO_T, dtype=np.int64)
                v = ((r[:, None] * 3 + r[None, :] * 5 + phase) % 256).astype(
                    np.uint8
                )
                rgba = np.repeat(v[..., None], 4, axis=2)
                rows["z"].append(6)
                rows["x"].append(i * 2)
                rows["y"].append(i)
                rows["raster"].append(R.encode_image(rgba, "raw-rgba8"))
                rows["n_images"].append(1)
                rows["captions"].append(["cap"])
            yield pd.DataFrame(rows)

    parents = ids.mapInPandas(
        gen,
        schema=(
            "z int, x long, y long, raster binary, n_images long, "
            "captions array<string>"
        ),
    )
    kids = R.overzoom_raster_tiles(
        parents, 1, tile_size=RZO_T, method="nearest", fmt="raw-rgba8"
    )

    def summarize(it):
        for pdf in it:
            out: dict[str, list] = {"x": [], "y": [], "px_sum": []}
            for xx, yy, raster in zip(pdf["x"], pdf["y"], pdf["raster"]):
                img = R.decode_image(bytes(raster), "raw-rgba8", RZO_T, RZO_T)
                out["x"].append(int(xx))
                out["y"].append(int(yy))
                out["px_sum"].append(int(img[:, :, 0].astype(np.int64).sum()))
            yield pd.DataFrame(out)

    return kids.mapInPandas(summarize, schema="x long, y long, px_sum long")


def _sql_raster_overzoom(n: int = RZO_N, t: int = RZO_T) -> str:
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {n - 1})) AS idx),
hh AS (SELECT idx, ({splitmix64_sql('idx')}) % 251 AS phase FROM ids),
cells AS (SELECT 0 AS v UNION ALL SELECT 1),
px AS (
  SELECT h.idx, h.phase, cx.v AS cx, cy.v AS cy, g1.r, g2.c,
         (((cy.v * {t} + g1.r) // 2) * 3
          + ((cx.v * {t} + g2.c) // 2) * 5 + h.phase) % 256 AS val
  FROM hh h
  CROSS JOIN cells cx CROSS JOIN cells cy
  CROSS JOIN (SELECT unnest(generate_series(0, {t - 1})) AS r) g1
  CROSS JOIN (SELECT unnest(generate_series(0, {t - 1})) AS c) g2
)
SELECT CAST(idx * 4 + cx AS BIGINT) AS x,
       CAST(idx * 2 + cy AS BIGINT) AS y,
       CAST(SUM(val) AS BIGINT) AS px_sum
FROM px GROUP BY 1, 2
"""


def q_geotiff_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 georeferenced-ingest gate with a FULL oracle: the SAME
    tile-aligned ramp corpus as q_raster_tiles, but each image ships
    as a real GeoTIFF whose merc bbox lives in the embedded
    ModelPixelScale/ModelTiepoint tags (functions.tiff geo=...) — no
    footprint columns exist. The REAL geotiff_footprints ingest parses
    the IFD header (no pixel decode), rebuilds the footprinted frame,
    and the full warp/composite/encode path runs as in q_raster_tiles;
    because the GeoTIFF doubles round-trip bit-exactly and PackBits is
    lossless, the SAME DuckDB twin (_sql_raster_tiles) must hash-match
    — so the tag writer, the tag parser, AND the ingest drop policy
    are all under the hash. Ref parity: mapnik's gdal datasource
    (plugins/input/gdal) feeding the raster processor path; SURVEY
    §2.8 R1/S3."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.functions import tiff as tiffmod
    from mapnik_vector_tile_spark.functions import tilemath as tm
    from mapnik_vector_tile_spark.operators import raster as R
    from mapnik_vector_tile_spark.sources.synth import splitmix64

    span = tm.tile_span(RT_Z)

    def gen(it):
        for pdf in it:
            rows: dict[str, list] = {"idx": [], "bytes": [], "caption": []}
            for i in pdf["id"]:
                i = int(i)
                h = int(splitmix64(np.array([i], dtype=np.uint64))[0])
                x0 = h % 13
                y0 = (h >> 8) % 13
                k = 1 + ((h >> 16) % 2)
                phase = h % 251
                t = np.arange(k * RT_T, dtype=np.int64)
                v = ((t[:, None] * 3 + t[None, :] * 5 + phase) % 256).astype(
                    np.uint8
                )
                rgba = np.repeat(v[..., None], 4, axis=2)
                bbox = (
                    -tm.W + np.float64(x0) * span,
                    tm.W - np.float64(y0 + k) * span,
                    -tm.W + np.float64(x0 + k) * span,
                    tm.W - np.float64(y0) * span,
                )
                rows["idx"].append(i)
                rows["bytes"].append(tiffmod.encode_tiff(rgba, geo=bbox))
                rows["caption"].append(f"img-{i}")
            yield pd.DataFrame(rows)

    geotiffs = spark.range(RT_N).mapInPandas(
        gen, schema="idx long, bytes binary, caption string"
    )
    images = R.geotiff_footprints(geotiffs)
    return _rasterize_summary(images)


def _sql_raster_tiles(n: int = RT_N, z: int = RT_Z, t: int = RT_T) -> str:
    """DuckDB twin of q_raster_tiles. Regenerates per-image placement
    from splitmix64(idx), mirrors the engine's FLOAT tile fan-out
    op-for-op (same IEEE doubles ⇒ same straggler tiles ⇒ same
    n_images), picks the painter's winner per tile (max idx among
    integer-covering images — coverage is all-or-nothing because the
    bboxes are tile-aligned), and sums the ramp pixels closed-form.
    Tiles with fan-out rows but no covering painter are dropped, like
    the engine's not-painted guard."""
    from mapnik_vector_tile_spark.functions import tilemath as tm

    w = repr(tm.W)
    span = repr(tm.tile_span(z))
    nmax = (1 << z) - 1
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {n - 1})) AS idx),
hh AS (SELECT idx, {splitmix64_sql('idx')} AS h FROM ids),
imgs AS (
  SELECT idx,
         CAST(h % 13 AS BIGINT) AS x0,
         CAST((h // 256) % 13 AS BIGINT) AS y0,
         CAST(1 + (h // 65536) % 2 AS BIGINT) AS k,
         CAST(h % 251 AS BIGINT) AS phase
  FROM hh),
fb AS (
  SELECT idx, x0, y0, k, phase,
         (-{w}) + CAST(x0 AS DOUBLE) * {span} AS minx,
         (-{w}) + CAST(x0 + k AS DOUBLE) * {span} AS maxx,
         {w} - CAST(y0 + k AS DOUBLE) * {span} AS miny,
         {w} - CAST(y0 AS DOUBLE) * {span} AS maxy
  FROM imgs),
rng AS (
  SELECT idx, x0, y0, k, phase,
         LEAST({nmax}, GREATEST(0,
           CAST(floor((minx + {w}) / {span}) AS BIGINT))) AS lox,
         LEAST({nmax}, GREATEST(0,
           CAST(floor((maxx + {w}) / {span}) AS BIGINT))) AS hix,
         LEAST({nmax}, GREATEST(0,
           CAST(floor(({w} - maxy) / {span}) AS BIGINT))) AS loy,
         LEAST({nmax}, GREATEST(0,
           CAST(floor(({w} - miny) / {span}) AS BIGINT))) AS hiy
  FROM fb),
fx AS (
  SELECT idx, x0, y0, k, phase, loy, hiy,
         unnest(generate_series(lox, hix)) AS x
  FROM rng),
fan AS (
  SELECT idx, x0, y0, k, phase, x,
         unnest(generate_series(loy, hiy)) AS y
  FROM fx),
counts AS (SELECT x, y, COUNT(*) AS n_images FROM fan GROUP BY 1, 2),
win AS (
  SELECT x, y, idx, x0, y0, phase,
         row_number() OVER (PARTITION BY x, y ORDER BY idx DESC) AS rn
  FROM fan
  WHERE x >= x0 AND x < x0 + k AND y >= y0 AND y < y0 + k),
px AS (
  SELECT w1.x, w1.y,
         ((((w1.y - w1.y0) * {t} + g1.r) * 3
           + ((w1.x - w1.x0) * {t} + g2.c) * 5 + w1.phase) % 256) AS val
  FROM (SELECT * FROM win WHERE rn = 1) w1
  CROSS JOIN (SELECT unnest(generate_series(0, {t - 1})) AS r) g1
  CROSS JOIN (SELECT unnest(generate_series(0, {t - 1})) AS c) g2),
sums AS (SELECT x, y, SUM(val) AS px_sum FROM px GROUP BY 1, 2)
SELECT CAST({z} AS INT) AS z,
       CAST(c.x AS BIGINT) AS x,
       CAST(c.y AS BIGINT) AS y,
       CAST(c.n_images AS BIGINT) AS n_images,
       CAST(s.px_sum AS BIGINT) AS px_sum
FROM counts c JOIN sums s ON c.x = s.x AND c.y = s.y
"""


JPEG_N = 300  # q_raster_jpeg corpus size


def q_raster_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2 lossy codec gate with a FULL contract oracle: every image of
    the committed synthetic corpus (gradient+noise — mod-256 sawtooth
    wraps, the hardest JPEG content) is round-tripped through the real
    pure-numpy baseline JPEG codec (functions.jpeg via the raster
    codec registry) and must satisfy the input_hint invariants:
    PSNR ≥ 40 dB on RGB, opaque alpha, non-empty stream. The DuckDB
    twin regenerates (image_id, w, h) closed-form and asserts the
    booleans TRUE — a hash mismatch means the engine failed the lossy
    contract on some image. Pixel-level JPEG behavior is additionally
    pinned by tests/test_raster.py. sf_dir is unused: the corpus is
    the committed synth recipe (no images table exists in testdata)."""
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
            out = {"image_id": [], "w": [], "h": [], "jpeg_ok": [],
                   "alpha_ok": [], "nonempty": []}
            for row in src.itertuples(index=False):
                rgba = R.decode_image(
                    row.bytes, row.fmt, int(row.w), int(row.h)
                )
                buf = R.encode_image(rgba, "jpeg")
                back = R.decode_image(buf, "jpeg", int(row.w), int(row.h))
                a = rgba[..., :3].astype(np.float64)
                b = back[..., :3].astype(np.float64)
                mse = float(np.mean((a - b) ** 2))
                p = 10.0 * np.log10(255.0**2 / mse) if mse else np.inf
                out["image_id"].append(row.image_id)
                out["w"].append(int(row.w))
                out["h"].append(int(row.h))
                out["jpeg_ok"].append(bool(p >= 40.0))
                out["alpha_ok"].append(bool((back[..., 3] == 255).all()))
                out["nonempty"].append(len(buf) > 0)
            yield pd.DataFrame(out)

    return spark.range(0, JPEG_N, 1, 8).mapInPandas(
        gen,
        schema=("image_id string, w int, h int, jpeg_ok boolean, "
                "alpha_ok boolean, nonempty boolean"),
    )


def _sql_raster_jpeg(n: int = JPEG_N) -> str:
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {n - 1})) AS i)
SELECT 'img_' || lpad(CAST(i AS VARCHAR), 12, '0') AS image_id,
       CAST(16 + (i * 7) % 49 AS INT) AS w,
       CAST(16 + (i * 11) % 49 AS INT) AS h,
       TRUE AS jpeg_ok, TRUE AS alpha_ok, TRUE AS nonempty
FROM ids
"""


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


def _img_grid_ctes(n: int) -> str:
    """CTEs ids, dims (i, w, h, ph) and ys, pix (i, w, h, y, x): the
    size, hash and pixel grid of each of the first n synth images."""
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
)"""


def _img_caption_cte() -> str:
    """CTE caps (i, caption): each image's synth caption, three words
    of `synth._WORDS` picked by its hash ph from `dims`."""
    from mapnik_vector_tile_spark.sources.synth import _WORDS

    words = "[" + ", ".join(f"'{w}'" for w in _WORDS) + "]"
    nw = len(_WORDS)
    return f"""caps AS (
  SELECT i,
         'caption ' || CAST(i AS VARCHAR) || ': '
           || {words}[CAST(ph % {nw} AS INT) + 1] || ' '
           || {words}[CAST((ph // 64) % {nw} AS INT) + 1] || ' '
           || {words}[CAST((ph // 4096) % {nw} AS INT) + 1] AS caption
  FROM dims
)"""


def _sql_image_thumbs(n: int = IMG_TH_N, s: int = IMG_TH_S) -> str:
    return f"""
WITH {_img_grid_ctes(n)},
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
{_img_caption_cte()}
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
    noise = (
        f"CAST(({splitmix64_sql('(y * w + x + i * 65537)')}) % 64 AS BIGINT)"
    )
    return f"""{_img_grid_ctes(n)},
chan AS (
  SELECT i, w, h, y, x,
         (((x * 255) // (w - 1) + {noise}) % 256) AS r,
         (((y * 255) // (h - 1) + {noise}) % 256) AS g,
         ((((x + y) * 255) // (w + h - 2) + {noise}) % 256) AS b
  FROM pix
),
{_img_caption_cte()}"""


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
    return f"""
WITH {_img_grid_ctes(n)},
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
{_img_caption_cte()}
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


ZONAL_N = 120  # q_zonal_stats zones
ZONAL_Z = 4  # 16×16 tile grid
ZONAL_T = 32  # pixels per tile side


def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4-companion zonal statistics with a FULL integer oracle:
    120 rectangular zones (anchored at pixel-fraction +1/4 with
    half-pixel widths, so pixel CENTERS are never on a zone edge) over
    a full 16×16 z=4 raster tile grid whose channel-0 pixels are the
    closed-form ramp v = (3·row + 5·col + (tx·37+ty·91)%251) % 256.
    The engine runs the real pipeline — exact zone covering → cell
    equi-join against the tile table → decode → even-odd center mask →
    partial+final integer aggregation (operators/raster.zonal_stats);
    the DuckDB twin enumerates zone pixels in GLOBAL pixel coordinates
    and sums the same ramp, integers only, never touching tiles or
    rasters. Output (region_id, n_px, sum_px) — integer-exact, order-
    free. sf_dir unused (committed synth recipe). Ref parity: raster
    band statistics under vector masks (the raster analogue of the
    reference's per-tile spatial aggregation); SURVEY §2.8 R4."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.functions import tilemath as tm
    from mapnik_vector_tile_spark.operators.raster import zonal_stats

    span = tm.tile_span(ZONAL_Z)
    pspan = span / ZONAL_T

    def gen_tiles(it):
        for pdf in it:
            ids = pdf["id"].to_numpy()
            if not len(ids):
                continue
            rows = {"z": [], "x": [], "y": [], "raster": [], "fmt": []}
            rr, cc = np.mgrid[0:ZONAL_T, 0:ZONAL_T]
            for t in ids:
                t = int(t)
                tx, ty = t % 16, t // 16
                phase = (tx * 37 + ty * 91) % 251
                v = ((3 * rr + 5 * cc + phase) % 256).astype(np.uint8)
                rgba = np.repeat(v[..., None], 4, axis=2)
                rgba[..., 3] = 255
                rows["z"].append(ZONAL_Z)
                rows["x"].append(tx)
                rows["y"].append(ty)
                rows["raster"].append(rgba.tobytes())
                rows["fmt"].append("raw-rgba8")
            yield pd.DataFrame(rows)

    tiles = spark.range(0, 256, 1, 8).mapInPandas(
        gen_tiles, schema="z int, x long, y long, raster binary, fmt string"
    )

    def gen_zones(it):
        for pdf in it:
            ids = pdf["id"].to_numpy()
            if not len(ids):
                continue
            rows = {"region_id": [], "xs": [], "ys": [], "ring_offsets": []}
            for i in ids:
                i = int(i)
                gx, gy = (i * 3) % 12, (i * 5) % 12
                px0, py0 = (i * 13) % 28, (i * 17) % 28
                wpx, hpx = 10 + (i * 7) % 45, 8 + (i * 11) % 40
                zx0 = -tm.W + (gx * ZONAL_T + px0 + 0.25) * pspan
                zx1 = zx0 + (wpx + 0.5) * pspan
                ztop = tm.W - (gy * ZONAL_T + py0 + 0.25) * pspan
                zbot = tm.W - (gy * ZONAL_T + py0 + hpx + 0.75) * pspan
                rows["region_id"].append(i)
                rows["xs"].append([zx0, zx1, zx1, zx0, zx0])
                rows["ys"].append([zbot, zbot, ztop, ztop, zbot])
                rows["ring_offsets"].append([0, 5])
            yield pd.DataFrame(rows)

    zones = spark.range(0, ZONAL_N, 1, 4).mapInPandas(
        gen_zones,
        schema=("region_id long, xs array<double>, ys array<double>, "
                "ring_offsets array<int>"),
    )
    return zonal_stats(tiles, zones, z=ZONAL_Z, tile_size=ZONAL_T)


def _sql_zonal_stats(n: int = ZONAL_N, t: int = ZONAL_T) -> str:
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {n - 1})) AS i),
zn AS (
  SELECT i, (i * 3) % 12 AS gx, (i * 5) % 12 AS gy,
         (i * 13) % 28 AS px0, (i * 17) % 28 AS py0,
         10 + (i * 7) % 45 AS wpx, 8 + (i * 11) % 40 AS hpx
  FROM ids
),
px AS (
  SELECT z.i, gp.p, gq.q
  FROM zn z,
       LATERAL (SELECT unnest(generate_series(
           z.gx * {t} + z.px0, z.gx * {t} + z.px0 + z.wpx)) AS p) gp,
       LATERAL (SELECT unnest(generate_series(
           z.gy * {t} + z.py0, z.gy * {t} + z.py0 + z.hpx)) AS q) gq
)
SELECT i AS region_id,
       COUNT(*) AS n_px,
       CAST(SUM((3 * (q % {t}) + 5 * (p % {t})
                 + ((p // {t}) * 37 + (q // {t}) * 91) % 251) % 256)
            AS BIGINT) AS sum_px
FROM px
GROUP BY i
"""


def q_image_gradients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T12i gradient-orientation histogram
    (raster.gradient_orientation_stats — 3×3 Sobel over the shared
    luma8 grid, octant by a three-step sign/compare fold, no atan2)
    over the canonical images table with a FULL oracle: DuckDB
    regenerates every pixel from the shared CTE chain, builds the
    Sobel responses from row-wise lag/lead plus two row joins, and
    replays the identical fold decision-for-decision — one pixel
    binned across a tie boundary (exact diagonal or axis gradient)
    breaks the hash."""
    from mapnik_vector_tile_spark.operators.raster import (
        gradient_orientation_stats,
    )
    from mapnik_vector_tile_spark.sources.synth import images_df

    imgs = images_df(spark, IMG_TH_N)
    return gradient_orientation_stats(imgs)


def _sql_image_gradients(n: int = IMG_TH_N) -> str:
    return f"""
WITH {_img_pixel_ctes(n)},
lum AS MATERIALIZED (
  SELECT i, w, h, y, x, (r * 77 + g * 151 + b * 28) // 256 AS g8
  FROM chan
),
tri AS MATERIALIZED (
  SELECT i, w, h, y, x,
         lag(g8)  OVER (PARTITION BY i, y ORDER BY x) AS wv,
         g8 AS cv,
         lead(g8) OVER (PARTITION BY i, y ORDER BY x) AS ev
  FROM lum
),
sob AS (
  SELECT m.i, m.y, m.x,
         (u.ev + 2 * m.ev + d.ev) - (u.wv + 2 * m.wv + d.wv) AS gx,
         (d.wv + 2 * d.cv + d.ev) - (u.wv + 2 * u.cv + u.ev) AS gy
  FROM tri m
  JOIN tri u ON u.i = m.i AND u.x = m.x AND u.y = m.y - 1
  JOIN tri d ON d.i = m.i AND d.x = m.x AND d.y = m.y + 1
  WHERE m.x BETWEEN 1 AND m.w - 2 AND m.y BETWEEN 1 AND m.h - 2
),
f1 AS (
  SELECT i, abs(gx) + abs(gy) AS mag, gx = 0 AND gy = 0 AS flat,
         CASE WHEN gy < 0 THEN 4 ELSE 0 END AS s1,
         CASE WHEN gy < 0 THEN -gx ELSE gx END AS gx1,
         CASE WHEN gy < 0 THEN -gy ELSE gy END AS gy1
  FROM sob
),
f2 AS (
  SELECT i, mag, flat,
         s1 + CASE WHEN gx1 < 0 THEN 2 ELSE 0 END AS s2,
         CASE WHEN gx1 < 0 THEN gy1 ELSE gx1 END AS gx2,
         CASE WHEN gx1 < 0 THEN -gx1 ELSE gy1 END AS gy2
  FROM f1
),
f3 AS (
  SELECT i, mag,
         CASE WHEN flat THEN -1
              ELSE s2 + CASE WHEN gy2 >= gx2 THEN 1 ELSE 0 END
         END AS bin
  FROM f2
),
hist AS (
  SELECT i, bin, CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(CASE WHEN bin = -1 THEN 0 ELSE mag END) AS BIGINT)
           AS mag
  FROM f3 GROUP BY i, bin
),
spine AS (
  SELECT i, CAST(unnest(generate_series(-1, 7)) AS BIGINT) AS bin
  FROM ids
)
SELECT 'img_' || lpad(CAST(s.i AS VARCHAR), 12, '0') AS image_id,
       s.bin, COALESCE(h.cnt, 0) AS cnt, COALESCE(h.mag, 0) AS mag,
       caps.caption AS caption
FROM spine s
LEFT JOIN hist h ON h.i = s.i AND h.bin = s.bin
JOIN caps ON caps.i = s.i
"""


IMG_TM_N = 150  # q_template_match corpus size (36 template cells/pixel)


def q_template_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T12j template matching (raster.template_match_stats — integer
    SAD sliding-window patch search with a per-image hash-located,
    perturbed 6×6 luma template) with a FULL oracle: DuckDB
    regenerates the pixels, rebuilds the template from the same
    formulas, folds SAD per offset (HAVING 36 cells keeps exactly the
    full windows) and replays the argmin with the pinned smallest-
    (by,bx) tie rule plus the tied-minima count."""
    from mapnik_vector_tile_spark.operators.raster import (
        template_match_stats,
    )
    from mapnik_vector_tile_spark.sources.synth import images_df

    imgs = images_df(spark, IMG_TM_N)
    return template_match_stats(imgs)


def _sql_template_match(n: int = IMG_TM_N) -> str:
    return f"""
WITH {_img_pixel_ctes(n)},
lum AS (
  SELECT i, w, h, y, x, (r * 77 + g * 151 + b * 28) // 256 AS g8
  FROM chan
),
tloc AS (
  SELECT i, w, h,
         CAST(ph % (w - 5) AS BIGINT) AS t0x,
         CAST((ph // 131072) % (h - 5) AS BIGINT) AS t0y
  FROM dims
),
tpl AS (
  SELECT l.i, l.x - t.t0x AS tx, l.y - t.t0y AS ty,
         l.g8 + ((l.x - t.t0x) * 7 + (l.y - t.t0y) * 11) % 43 AS tv
  FROM lum l JOIN tloc t ON t.i = l.i
  WHERE l.x BETWEEN t.t0x AND t.t0x + 5
    AND l.y BETWEEN t.t0y AND t.t0y + 5
),
sad AS (
  SELECT p.i, p.x - t.tx AS ox, p.y - t.ty AS oy,
         CAST(SUM(abs(p.g8 - t.tv)) AS BIGINT) AS s
  FROM lum p JOIN tpl t ON t.i = p.i
  GROUP BY p.i, p.x - t.tx, p.y - t.ty
  HAVING COUNT(*) = 36
),
mins AS (SELECT i, MIN(s) AS bs FROM sad GROUP BY i),
ties AS (
  SELECT sad.i, CAST(COUNT(*) AS BIGINT) AS n_best
  FROM sad JOIN mins ON mins.i = sad.i AND sad.s = mins.bs
  GROUP BY sad.i
),
pick AS (
  SELECT i, ox, oy, s FROM (
    SELECT sad.i, ox, oy, s,
           row_number() OVER (PARTITION BY sad.i ORDER BY oy, ox) AS rn
    FROM sad JOIN mins ON mins.i = sad.i AND sad.s = mins.bs)
  WHERE rn = 1
)
SELECT 'img_' || lpad(CAST(p.i AS VARCHAR), 12, '0') AS image_id,
       p.ox AS bx, p.oy AS by, p.s AS best_sad, t.n_best,
       caps.caption AS caption
FROM pick p JOIN ties t ON t.i = p.i JOIN caps ON caps.i = p.i
"""


RDZ_Z = 4
RDZ_T = 16


def q_raster_downzoom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster child→parent rollup (raster.raster_downzoom) with a FULL
    oracle: 256 candidate z4 luma tiles, ~25% hash-dropped so zero
    quadrants and partial occupancy masks are exercised; pixels are
    the closed-form gradient (r·3 + c·5 + phase) % 256 so DuckDB
    rebuilds every parent pixel as the floor 2×2 mean and replays
    px_sum, the POSITIONAL wsum, and the occupancy bitmask."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.operators.raster import raster_downzoom
    from mapnik_vector_tile_spark.sources.synth import splitmix64

    T = RDZ_T

    def gen(it):
        for pdf in it:
            rows: dict[str, list] = {"z": [], "x": [], "y": [], "raster": []}
            for i in pdf["id"]:
                i = int(i)
                h = int(splitmix64(np.array([i], dtype=np.uint64))[0])
                if h % 4 == 0:
                    continue
                phase = h % 251
                r = np.arange(T, dtype=np.int64)
                val = (
                    (r[:, None] * 3 + r[None, :] * 5 + phase) % 256
                ).astype(np.uint8)
                rows["z"].append(RDZ_Z)
                rows["x"].append(i % 16)
                rows["y"].append(i // 16)
                rows["raster"].append(val.tobytes())
            yield pd.DataFrame(rows)

    tiles = spark.range(256).mapInPandas(
        gen, "z long, x long, y long, raster binary"
    )
    return raster_downzoom(tiles, T)


def _sql_raster_downzoom(t: int = RDZ_T) -> str:
    sm = splitmix64_sql("i")
    half = t // 2

    def pixv(rr, cc):
        return f"((({rr}) * 3 + ({cc}) * 5 + phase) % 256)"

    val = (
        f"({pixv('2*r2.v', '2*c2.v')} + {pixv('2*r2.v + 1', '2*c2.v')}"
        f" + {pixv('2*r2.v', '2*c2.v + 1')}"
        f" + {pixv('2*r2.v + 1', '2*c2.v + 1')}) // 4"
    )
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, 255)) AS i),
hh AS (SELECT i, {sm} AS h FROM ids),
pres AS (
  SELECT CAST(i % 16 AS BIGINT) AS x, CAST(i // 16 AS BIGINT) AS y,
         CAST(h % 251 AS BIGINT) AS phase
  FROM hh WHERE h % 4 <> 0),
pq AS (
  SELECT x // 2 AS px, y // 2 AS py, x % 2 AS dx, y % 2 AS dy,
         r2.v AS r2, c2.v AS c2, {val} AS val
  FROM pres
  CROSS JOIN (SELECT unnest(generate_series(0, {half - 1})) AS v) r2
  CROSS JOIN (SELECT unnest(generate_series(0, {half - 1})) AS v) c2),
ag AS (
  SELECT px, py, CAST(SUM(val) AS BIGINT) AS px_sum,
         CAST(SUM(val * ((dy * {half} + r2) * {t}
                         + (dx * {half} + c2) + 1)) AS BIGINT) AS wsum
  FROM pq GROUP BY px, py),
oc AS (
  SELECT x // 2 AS px, y // 2 AS py,
         CAST(SUM(1 << ((y % 2) * 2 + (x % 2))) AS BIGINT) AS occ
  FROM pres GROUP BY 1, 2)
SELECT CAST({RDZ_Z - 1} AS BIGINT) AS z, CAST(o.px AS BIGINT) AS x,
       CAST(o.py AS BIGINT) AS y, o.occ, a.px_sum, a.wsum
FROM oc o JOIN ag a ON a.px = o.px AND a.py = o.py
"""


RCO_Z = 3
RCO_T = 16


def q_raster_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Porter-Duff OVER (raster.raster_composite_over) with a FULL
    oracle: 64 tiles × 1-3 stacked gradient layers (per-layer luma and
    alpha phases hash-derived); DuckDB unrolls the non-commutative
    bottom-up fold with the same pixman div255 rounding per pixel —
    the positional wsum catches any wrong layer order."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.operators.raster import (
        raster_composite_over,
    )
    from mapnik_vector_tile_spark.sources.synth import splitmix64

    T = RCO_T

    def gen(it):
        for pdf in it:
            rows: dict[str, list] = {
                "z": [], "x": [], "y": [], "layer_order": [], "raster": [],
            }
            for i in pdf["id"]:
                i = int(i)
                h = int(splitmix64(np.array([i], dtype=np.uint64))[0])
                n = 1 + h % 3
                r = np.arange(T, dtype=np.int64)
                for l in range(n):
                    pl = (h >> (8 * l)) % 251
                    pa = (h >> (8 * l + 4)) % 251
                    lum = (
                        (r[:, None] * 3 + r[None, :] * 5 + pl) % 256
                    ).astype(np.uint8)
                    alp = (
                        (r[:, None] * 7 + r[None, :] * 11 + pa) % 256
                    ).astype(np.uint8)
                    la = np.stack([lum, alp], axis=-1)
                    rows["z"].append(RCO_Z)
                    rows["x"].append(i % 8)
                    rows["y"].append(i // 8)
                    rows["layer_order"].append(l)
                    rows["raster"].append(la.tobytes())
            yield pd.DataFrame(rows)

    tiles = spark.range(64).mapInPandas(
        gen, "z long, x long, y long, layer_order long, raster binary"
    )
    return raster_composite_over(tiles, T)


def _sql_raster_composite(t: int = RCO_T) -> str:
    sm = splitmix64_sql("i")

    def d255(e):
        return f"((({e}) + 128 + ((({e}) + 128) // 256)) // 256)"

    def lum(l):
        return f"((r.v * 3 + c.v * 5 + p{l}) % 256)"

    def alp(l):
        return f"((r.v * 7 + c.v * 11 + q{l}) % 256)"

    # unrolled bottom-up fold over up to 3 layers
    o1 = d255(f"{lum(0)} * {alp(0)}")
    a1 = alp(0)
    o2 = (
        f"CASE WHEN n > 1 THEN {d255(f'{lum(1)} * {alp(1)}')}"
        f" + {d255(f'({o1}) * (255 - {alp(1)})')} ELSE {o1} END"
    )
    a2 = (
        f"CASE WHEN n > 1 THEN {alp(1)}"
        f" + {d255(f'({a1}) * (255 - {alp(1)})')} ELSE {a1} END"
    )
    o3 = (
        f"CASE WHEN n > 2 THEN {d255(f'{lum(2)} * {alp(2)}')}"
        f" + {d255(f'({o2}) * (255 - {alp(2)})')} ELSE {o2} END"
    )
    a3 = (
        f"CASE WHEN n > 2 THEN {alp(2)}"
        f" + {d255(f'({a2}) * (255 - {alp(2)})')} ELSE {a2} END"
    )
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, 63)) AS i),
hh AS (
  SELECT i, CAST(i % 8 AS BIGINT) AS x, CAST(i // 8 AS BIGINT) AS y,
         CAST(1 + ({sm}) % 3 AS BIGINT) AS n,
         CAST(({sm}) % 251 AS BIGINT) AS p0,
         CAST((({sm}) // 256) % 251 AS BIGINT) AS p1,
         CAST((({sm}) // 65536) % 251 AS BIGINT) AS p2,
         CAST((({sm}) // 16) % 251 AS BIGINT) AS q0,
         CAST((({sm}) // 4096) % 251 AS BIGINT) AS q1,
         CAST((({sm}) // 1048576) % 251 AS BIGINT) AS q2
  FROM ids),
px AS (
  SELECT x, y, n, r.v AS rv, c.v AS cv,
         CAST({o3} AS BIGINT) AS ol, CAST({a3} AS BIGINT) AS oa
  FROM hh
  CROSS JOIN (SELECT unnest(generate_series(0, {t - 1})) AS v) r
  CROSS JOIN (SELECT unnest(generate_series(0, {t - 1})) AS v) c)
SELECT CAST({RCO_Z} AS BIGINT) AS z, x, y, n AS n_layers,
       CAST(SUM(ol) AS BIGINT) AS sum_l,
       CAST(SUM(oa) AS BIGINT) AS sum_a,
       CAST(SUM(ol * (rv * {t} + cv + 1)) AS BIGINT) AS wsum
FROM px GROUP BY x, y, n
"""


TER_Z = 5
TER_T = 16


_LINEAR_DEM_E = "(((r.v * 13 + c.v * 7 + phase) % 40001) - 10000)"
_QUADRATIC_DEM_E = (
    "(((r.v * r.v * 5 + c.v * c.v * 3 + r.v * c.v * 2 + phase)"
    " % 40001) - 10000)"
)
# D8 neighbour offsets (d, dy, dx, mult), mult = 2 / (dy² + dx²): the
# twins rank mult · drop², which orders squared slopes exactly.
_D8_DIRS = ",".join(
    f"({d},{dy},{dx},{1 if diag else 2})"
    for d, (dy, dx), diag in (
        (0, (0, 1), 0), (1, (1, 1), 1), (2, (1, 0), 0),
        (3, (1, -1), 1), (4, (0, -1), 0), (5, (-1, -1), 1),
        (6, (-1, 0), 0), (7, (-1, 1), 1),
    )
)


def _dem_ctes(t: int, e: str, materialized: bool) -> str:
    """CTEs ids, hh and px (x, y, rv, cv, e): the DuckDB replay of a
    `_*_dem_tiles` surface `e` (`_LINEAR_DEM_E`, `_QUADRATIC_DEM_E`)
    over t x t cells per tile."""
    sm = splitmix64_sql("i")
    px = "px AS MATERIALIZED" if materialized else "px AS"
    return f"""ids AS (SELECT unnest(generate_series(0, 99)) AS i),
hh AS (
  SELECT i, CAST(i % 10 AS BIGINT) AS x, CAST(i // 10 AS BIGINT) AS y,
         CAST(({sm}) % 100003 AS BIGINT) AS phase
  FROM ids),
{px} (
  SELECT x, y, r.v AS rv, c.v AS cv, {e} AS e
  FROM hh
  CROSS JOIN (SELECT unnest(generate_series(0, {t - 1})) AS v) r
  CROSS JOIN (SELECT unnest(generate_series(0, {t - 1})) AS v) c)"""


def _linear_dem_tiles(spark: SparkSession, t: int) -> DataFrame:
    """100 Terrain-RGB tiles (z TER_Z, x = i % 10, y = i // 10) of
    the closed-form surface e_dm = ((r·13 + c·7 + phase) % 40001) − 10000,
    phase = splitmix64(i) % 100003; the SQL twins replay it as `e`."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.operators.raster import terrain_rgb_encode
    from mapnik_vector_tile_spark.sources.synth import splitmix64

    def gen(it):
        for pdf in it:
            rows: dict[str, list] = {"z": [], "x": [], "y": [], "raster": []}
            for i in pdf["id"]:
                i = int(i)
                h = int(splitmix64(np.array([i], dtype=np.uint64))[0])
                phase = h % 100003
                r = np.arange(t, dtype=np.int64)
                e = ((r[:, None] * 13 + r[None, :] * 7 + phase) % 40001) - 10000
                rows["z"].append(TER_Z)
                rows["x"].append(i % 10)
                rows["y"].append(i // 10)
                rows["raster"].append(terrain_rgb_encode(e).tobytes())
            yield pd.DataFrame(rows)

    return spark.range(100).mapInPandas(
        gen, "z long, x long, y long, raster binary"
    )


def q_terrain_rgb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Terrain-RGB (raster.terrain_rgb_encode/decode →
    terrain_tiles_stats) with a FULL oracle: 100 tiles of the
    closed-form surface e_dm = ((r·13 + c·7 + phase) % 40001) − 10000
    are ENCODED to spec RGB bytes, shipped as tile rasters, decoded,
    and summarized; DuckDB replays the surface directly — the
    encode∘decode identity (lossless by construction) plus min/max/
    sum/roughness all sit under one hash."""
    from mapnik_vector_tile_spark.operators.raster import terrain_tiles_stats

    T = TER_T
    tiles = _linear_dem_tiles(spark, T)
    return terrain_tiles_stats(tiles, T)


def _sql_terrain_rgb(t: int = TER_T) -> str:
    return f"""
WITH {_dem_ctes(t, _LINEAR_DEM_E, False)},
dx AS (
  SELECT a.x, a.y, SUM(ABS(b.e - a.e)) AS rough_x
  FROM px a JOIN px b
    ON b.x = a.x AND b.y = a.y AND b.rv = a.rv AND b.cv = a.cv + 1
  GROUP BY a.x, a.y),
dy AS (
  SELECT a.x, a.y, SUM(ABS(b.e - a.e)) AS rough_y
  FROM px a JOIN px b
    ON b.x = a.x AND b.y = a.y AND b.cv = a.cv AND b.rv = a.rv + 1
  GROUP BY a.x, a.y)
SELECT CAST({TER_Z} AS BIGINT) AS z, p.x, p.y,
       CAST(MIN(p.e) AS BIGINT) AS min_dm,
       CAST(MAX(p.e) AS BIGINT) AS max_dm,
       CAST(SUM(p.e) AS BIGINT) AS sum_dm,
       CAST(MIN(dx.rough_x) AS BIGINT) AS rough_x,
       CAST(MIN(dy.rough_y) AS BIGINT) AS rough_y
FROM px p
JOIN dx ON dx.x = p.x AND dx.y = p.y
JOIN dy ON dy.x = p.x AND dy.y = p.y
GROUP BY p.x, p.y
"""


EXIF_N = 200


def q_exif_orient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF normalization (raster.exif_normalize_stats) over the
    canonical images with orient = (idx % 8) + 1 — all 8 spec cases
    exercised 25 times each. FULL oracle: DuckDB remaps every SOURCE
    pixel to its destination index per orientation and folds the same
    transform-sensitive positional sum."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators.raster import (
        exif_normalize_stats,
    )
    from mapnik_vector_tile_spark.sources.synth import images_df

    imgs = images_df(spark, EXIF_N).withColumn(
        "orient",
        (
            F.regexp_extract("image_id", r"(\d+)$", 1).cast("long") % 8 + 1
        ),
    )
    return exif_normalize_stats(imgs)


def _sql_exif_orient(n: int = EXIF_N) -> str:
    # destination index of source pixel (y, x) per orientation o
    rd = """CASE o
      WHEN 1 THEN y WHEN 2 THEN y WHEN 3 THEN h - 1 - y
      WHEN 4 THEN h - 1 - y WHEN 5 THEN x WHEN 6 THEN x
      WHEN 7 THEN w - 1 - x WHEN 8 THEN w - 1 - x END"""
    cd = """CASE o
      WHEN 1 THEN x WHEN 2 THEN w - 1 - x WHEN 3 THEN w - 1 - x
      WHEN 4 THEN x WHEN 5 THEN y WHEN 6 THEN h - 1 - y
      WHEN 7 THEN h - 1 - y WHEN 8 THEN y END"""
    wout = "CASE WHEN o <= 4 THEN w ELSE h END"
    return f"""
WITH {_img_pixel_ctes(n)},
lum AS MATERIALIZED (
  SELECT i, w, h, y, x, i % 8 + 1 AS o,
         (r * 77 + g * 151 + b * 28) // 256 AS g8
  FROM chan)
SELECT 'img_' || lpad(CAST(i AS VARCHAR), 12, '0') AS image_id,
       CAST(MIN(o) AS BIGINT) AS orient,
       CAST(MIN({wout}) AS BIGINT) AS out_w,
       CAST(MIN(CASE WHEN o <= 4 THEN h ELSE w END) AS BIGINT) AS out_h,
       CAST(SUM(g8) AS BIGINT) AS px_sum,
       CAST(SUM(g8 * (({rd}) * ({wout}) + ({cd}) + 1)) AS BIGINT) AS wsum
FROM lum GROUP BY i
"""


def q_hillshade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hillshade classification (raster.hillshade_tiles) over the same
    closed-form Terrain-RGB corpus as q_terrain_rgb, FULL oracle: the
    engine decodes spec RGB bytes and classifies every interior pixel
    by exact cross-multiplied Lambert-cosine squares; DuckDB replays
    the surface, the Horn 3x3 numerators via an 8-offset weights join,
    and the same integer band logic — histogram, sum(n.l), sum(|n|^2)
    all under one hash."""
    from mapnik_vector_tile_spark.operators.raster import hillshade_tiles

    T = TER_T
    tiles = _linear_dem_tiles(spark, T)
    return hillshade_tiles(tiles, T)


def _sql_hillshade(t: int = TER_T) -> str:
    l2 = 6  # |l|^2 for l = (1, -1, 2)
    return f"""
WITH {_dem_ctes(t, _LINEAR_DEM_E, False)},
grad AS (
  SELECT a.x, a.y, a.rv, a.cv,
         CAST(SUM(w.wx * b.e) AS BIGINT) AS p,
         CAST(SUM(w.wy * b.e) AS BIGINT) AS q
  FROM px a
  CROSS JOIN (VALUES (-1,-1,-1,-1),(-1,0,0,-2),(-1,1,1,-1),
                     (0,-1,-2,0),(0,1,2,0),
                     (1,-1,-1,1),(1,0,0,2),(1,1,1,1)) w(dr, dc, wx, wy)
  JOIN px b ON b.x = a.x AND b.y = a.y
           AND b.rv = a.rv + w.dr AND b.cv = a.cv + w.dc
  WHERE a.rv BETWEEN 1 AND {t - 2} AND a.cv BETWEEN 1 AND {t - 2}
  GROUP BY 1, 2, 3, 4),
cls AS (
  SELECT x, y, (-p + q + 32) AS nl, (p * p + q * q + 256) AS n2
  FROM grad),
bands AS (
  SELECT x, y, nl, n2,
         CASE WHEN nl <= 0 THEN 0
              ELSE 1 + CASE WHEN 4 * nl * nl >= 1 * n2 * {l2} THEN 1 ELSE 0 END
                     + CASE WHEN 4 * nl * nl >= 2 * n2 * {l2} THEN 1 ELSE 0 END
                     + CASE WHEN 4 * nl * nl >= 3 * n2 * {l2} THEN 1 ELSE 0 END
         END AS band
  FROM cls)
SELECT CAST({TER_Z} AS BIGINT) AS z, x, y,
       CAST(COUNT(*) AS BIGINT) AS n_px,
       CAST(SUM(CASE WHEN band = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
       CAST(SUM(CASE WHEN band = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
       CAST(SUM(CASE WHEN band = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
       CAST(SUM(CASE WHEN band >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
       CAST(SUM(nl) AS BIGINT) AS sum_nl,
       CAST(SUM(n2) AS BIGINT) AS sum_n2
FROM bands GROUP BY x, y
"""


SP_ATLAS = 128
SP_GROUPS = 24


def q_sprite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sprite-atlas shelf packing (functions/shelfpack.py via
    raster.sprite_atlas) with a FULL oracle: icon dims derive from
    splitmix64(p_partkey), one atlas per partkey%24 group; DuckDB
    replays the tallest-first scan with a shelf-state-carrying
    recursive CTE — first-fit shelf choice, new-shelf rule, sheet
    rollover — so every (g, icon, sheet, px, py) placement row
    matches bit-exactly."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from mapnik_vector_tile_spark.operators.raster import sprite_atlas

    wh_t = StructType(
        [StructField("w", LongType()), StructField("h", LongType())]
    )

    def _wh_kernel(k):
        from mapnik_vector_tile_spark.sources.synth import splitmix64

        h = splitmix64(k.to_numpy(dtype=np.uint64))
        return pd.DataFrame(
            {
                "w": (1 + (h % np.uint64(40))).astype(np.int64),
                "h": (1 + ((h >> np.uint64(6)) % np.uint64(40))).astype(
                    np.int64
                ),
            }
        )

    wh = F.pandas_udf(_wh_kernel, wh_t)
    icons = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .select(
            F.col("p_partkey").cast("long").alias("icon_id"),
            (F.col("p_partkey") % SP_GROUPS).cast("long").alias("g"),
            wh(F.col("p_partkey").cast("long")).alias("wh"),
        )
        .select("g", "icon_id", "wh.w", "wh.h")
    )
    return sprite_atlas(icons, atlas=SP_ATLAS)


def _sql_sprite(a: int = SP_ATLAS) -> str:
    sm = splitmix64_sql("CAST(p_partkey AS BIGINT)")
    fp = (
        "list_filter(range(1, len(shelves) + 1),"
        " p -> shelves[p].sh >= h AND shelves[p].sx + w <= "
        f"{a})[1]"
    )
    return f"""
WITH RECURSIVE hh AS (
  SELECT CAST(p_partkey AS BIGINT) AS icon_id,
         CAST(p_partkey % {SP_GROUPS} AS BIGINT) AS g,
         {sm} AS h64
  FROM part),
icons AS (
  SELECT g, icon_id,
         CAST(1 + h64 % 40 AS BIGINT) AS w,
         CAST(1 + (h64 // 64) % 40 AS BIGINT) AS h,
         CAST(row_number() OVER (
           PARTITION BY g
           ORDER BY (1 + (h64 // 64) % 40) DESC,
                    (1 + h64 % 40) DESC, icon_id) AS BIGINT) AS rn
  FROM hh),
t(g, rn, sheet, ynext, shelves, picon, px, py) AS (
  SELECT g, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
         CAST([] AS STRUCT(sy BIGINT, sh BIGINT, sx BIGINT)[]),
         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
  FROM (SELECT DISTINCT g FROM icons)
  UNION ALL
  SELECT g, rn,
         CASE WHEN fp IS NOT NULL OR ynext + h <= {a}
              THEN sheet ELSE sheet + 1 END,
         CASE WHEN fp IS NOT NULL THEN ynext
              WHEN ynext + h <= {a} THEN ynext + h
              ELSE h END,
         CASE WHEN fp IS NOT NULL THEN
                list_transform(shelves, (s, i) -> CASE WHEN i = fp
                  THEN {{'sy': s.sy, 'sh': s.sh, 'sx': s.sx + w}}
                  ELSE s END)
              WHEN ynext + h <= {a} THEN
                list_append(shelves, {{'sy': ynext, 'sh': h, 'sx': w}})
              ELSE [{{'sy': CAST(0 AS BIGINT), 'sh': h, 'sx': w}}] END,
         icon_id,
         CASE WHEN fp IS NOT NULL THEN shelves[fp].sx ELSE 0 END,
         CASE WHEN fp IS NOT NULL THEN shelves[fp].sy
              WHEN ynext + h <= {a} THEN ynext
              ELSE 0 END
  FROM (
    SELECT t.g, i.rn, t.sheet, t.ynext, t.shelves,
           i.icon_id, i.w, i.h, {fp} AS fp
    FROM t JOIN icons i ON i.g = t.g AND i.rn = t.rn + 1
  ) s1
)
SELECT g, picon AS icon_id, sheet, px, py
FROM t WHERE rn >= 1
"""


IMG_HC_N = 150


def q_harris(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harris corners (raster.harris_corner_stats) over the canonical
    images table with a FULL oracle: DuckDB regenerates the pixels,
    builds Sobel products, 3x3 structure-tensor box sums (HAVING 9
    keeps exactly the engine's response interior), the k=1/16
    fraction-cleared response, and the strict 8-neighbor NMS — corner
    counts, response sums and maxima all under one hash with captions
    riding through."""
    from mapnik_vector_tile_spark.operators.raster import (
        harris_corner_stats,
    )
    from mapnik_vector_tile_spark.sources.synth import images_df

    imgs = images_df(spark, IMG_HC_N)
    return harris_corner_stats(imgs)


def _sql_harris(n: int = IMG_HC_N) -> str:
    from mapnik_vector_tile_spark.operators.raster import HARRIS_THR

    return f"""
WITH {_img_pixel_ctes(n)},
lum AS MATERIALIZED (
  SELECT i, w, h, y, x, (r * 77 + g * 151 + b * 28) // 256 AS g8
  FROM chan
),
tri AS MATERIALIZED (
  SELECT i, w, h, y, x,
         lag(g8)  OVER (PARTITION BY i, y ORDER BY x) AS wv,
         g8 AS cv,
         lead(g8) OVER (PARTITION BY i, y ORDER BY x) AS ev
  FROM lum
),
sob AS MATERIALIZED (
  SELECT m.i, m.y, m.x,
         (u.ev + 2 * m.ev + d.ev) - (u.wv + 2 * m.wv + d.wv) AS gx,
         (d.wv + 2 * d.cv + d.ev) - (u.wv + 2 * u.cv + u.ev) AS gy
  FROM tri m
  JOIN tri u ON u.i = m.i AND u.x = m.x AND u.y = m.y - 1
  JOIN tri d ON d.i = m.i AND d.x = m.x AND d.y = m.y + 1
  WHERE m.x BETWEEN 1 AND m.w - 2 AND m.y BETWEEN 1 AND m.h - 2
),
prod AS MATERIALIZED (
  SELECT i, y, x, gx * gx AS a, gy * gy AS b, gx * gy AS c FROM sob
),
sums AS MATERIALIZED (
  SELECT p.i, p.y, p.x,
         CAST(SUM(q.a) AS BIGINT) AS sa,
         CAST(SUM(q.b) AS BIGINT) AS sb,
         CAST(SUM(q.c) AS BIGINT) AS sc
  FROM prod p
  CROSS JOIN (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),
                     (1,-1),(1,0),(1,1)) o(dy, dx)
  JOIN prod q ON q.i = p.i AND q.y = p.y + o.dy AND q.x = p.x + o.dx
  GROUP BY 1, 2, 3
  HAVING COUNT(*) = 9
),
resp AS MATERIALIZED (
  SELECT i, y, x,
         16 * (sa * sb - sc * sc) - (sa + sb) * (sa + sb) AS r16
  FROM sums
),
nbr AS MATERIALIZED (
  SELECT p.i, p.y, p.x, p.r16,
         MAX(q.r16) AS nmax, COUNT(*) AS nn
  FROM resp p
  CROSS JOIN (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,1),
                     (1,-1),(1,0),(1,1)) o(dy, dx)
  JOIN resp q ON q.i = p.i AND q.y = p.y + o.dy AND q.x = p.x + o.dx
  GROUP BY 1, 2, 3, 4
),
corners AS (
  SELECT i, CAST(COUNT(*) AS BIGINT) AS n_corners,
         CAST(SUM(r16) AS BIGINT) AS sum_r
  FROM nbr
  WHERE nn = 8 AND r16 > {HARRIS_THR} AND r16 > nmax
  GROUP BY i
),
rstats AS (
  SELECT i,
         CAST(SUM(CASE WHEN r16 > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_pos,
         CAST(MAX(r16) AS BIGINT) AS max_r
  FROM resp GROUP BY i
)
SELECT 'img_' || lpad(CAST(d.i AS VARCHAR), 12, '0') AS image_id,
       COALESCE(r.n_pos, 0) AS n_pos,
       COALESCE(c.n_corners, 0) AS n_corners,
       COALESCE(c.sum_r, 0) AS sum_r,
       COALESCE(r.max_r, 0) AS max_r,
       caps.caption AS caption
FROM dims d
LEFT JOIN rstats r ON r.i = d.i
LEFT JOIN corners c ON c.i = d.i
JOIN caps ON caps.i = d.i
"""


QM_T = 16
QM_TILES = 25


def q_quality_mosaic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-value composite (raster.quality_mosaic) with a FULL oracle:
    25 tiles carry 1-3 overlapping closed-form scenes
    v = (r·a + c·b + ph) % 251; DuckDB replays the per-pixel argmax
    with a (v DESC, scene ASC) window rank and folds the identical
    provenance + positional mosaic witness."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.operators.raster import quality_mosaic
    from mapnik_vector_tile_spark.sources.synth import splitmix64

    T = QM_T

    def gen(it):
        for pdf in it:
            rows = {"z": [], "x": [], "y": [], "scene_id": [], "raster": []}
            for i in pdf["id"]:
                i = int(i)
                tile = i % QM_TILES
                # tile t gets scenes i where i % QM_TILES == t; the
                # range(75) driver below yields 3 scene slots per tile
                h = int(splitmix64(np.array([i], dtype=np.uint64))[0])
                if i >= QM_TILES and h % 3 == 0:
                    continue  # 1-3 scenes per tile, slot 0 always kept
                a = 1 + h % 13
                b = 1 + (h >> 8) % 11
                ph = (h >> 16) % 997
                r = np.arange(T, dtype=np.int64)
                v = (r[:, None] * a + r[None, :] * b + ph) % 251
                rows["z"].append(5)
                rows["x"].append(tile % 5)
                rows["y"].append(tile // 5)
                rows["scene_id"].append(i)
                rows["raster"].append(v.astype(np.uint8).tobytes())
            yield pd.DataFrame(rows)

    scenes = spark.range(QM_TILES * 3).mapInPandas(
        gen, "z long, x long, y long, scene_id long, raster binary"
    )
    return quality_mosaic(scenes, T)


def _sql_quality_mosaic(t: int = QM_T) -> str:
    sm = splitmix64_sql("i")
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {QM_TILES * 3 - 1})) AS i),
sc AS (
  SELECT i, i % {QM_TILES} AS tile, {sm} AS h FROM ids),
keep AS (
  SELECT i, tile,
         CAST(1 + h % 13 AS BIGINT) AS a,
         CAST(1 + (h // 256) % 11 AS BIGINT) AS b,
         CAST((h // 65536) % 997 AS BIGINT) AS ph
  FROM sc WHERE i < {QM_TILES} OR h % 3 <> 0),
px AS MATERIALIZED (
  SELECT k.i AS scene_id, k.tile, r.v AS rv, c.v AS cv,
         (r.v * k.a + c.v * k.b + k.ph) % 251 AS v
  FROM keep k
  CROSS JOIN (SELECT unnest(generate_series(0, {t - 1})) AS v) r
  CROSS JOIN (SELECT unnest(generate_series(0, {t - 1})) AS v) c),
rnk AS MATERIALIZED (
  SELECT *,
         row_number() OVER (
           PARTITION BY tile, rv, cv ORDER BY v DESC, scene_id) AS rn
  FROM px),
winners AS (SELECT * FROM rnk WHERE rn = 1),
ws AS (
  SELECT tile,
         CAST(SUM((rv * {t} + cv + 1) * v) AS BIGINT) AS mosaic_wsum
  FROM winners GROUP BY tile),
prov AS (
  SELECT k.tile, k.i AS scene_id,
         CAST(COALESCE(COUNT(w.v), 0) AS BIGINT) AS pixels_won,
         CAST(COALESCE(SUM(w.v), 0) AS BIGINT) AS sum_won
  FROM keep k
  LEFT JOIN winners w ON w.scene_id = k.i
  GROUP BY k.tile, k.i)
SELECT CAST(5 AS BIGINT) AS z,
       CAST(p.tile % 5 AS BIGINT) AS x,
       CAST(p.tile // 5 AS BIGINT) AS y,
       p.scene_id, p.pixels_won, p.sum_won, ws.mosaic_wsum
FROM prov p JOIN ws ON ws.tile = p.tile
"""


CV_T = 16
CV_TAPS = ((-1, -1, 2), (0, 0, 1), (1, 1, -2), (0, -1, 3), (-1, 1, -1))


def q_convolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic convolution (raster.convolve_tiles) with a FULL
    oracle: 100 closed-form uint8 tiles correlate with a broadcast
    asymmetric 5-tap kernel; DuckDB rebuilds the valid-region
    response with a weights join and folds the identical sum/abs/
    min/max/positional witness."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.operators.raster import convolve_tiles
    from mapnik_vector_tile_spark.sources.synth import splitmix64

    T = CV_T

    def gen(it):
        for pdf in it:
            rows = {"z": [], "x": [], "y": [], "raster": []}
            for i in pdf["id"]:
                i = int(i)
                h = int(splitmix64(np.array([i], dtype=np.uint64))[0])
                a = 1 + h % 13
                b = 1 + (h >> 8) % 11
                ph = (h >> 16) % 997
                r = np.arange(T, dtype=np.int64)
                v = (r[:, None] * a + r[None, :] * b + ph) % 256
                rows["z"].append(5)
                rows["x"].append(i % 10)
                rows["y"].append(i // 10)
                rows["raster"].append(v.astype(np.uint8).tobytes())
            yield pd.DataFrame(rows)

    tiles = spark.range(100).mapInPandas(
        gen, "z long, x long, y long, raster binary"
    )
    kernel = spark.createDataFrame(
        list(CV_TAPS), "dy long, dx long, w long"
    )
    return convolve_tiles(tiles, kernel, T)


def _sql_convolve(t: int = CV_T) -> str:
    sm = splitmix64_sql("i")
    ry0 = min(tp[0] for tp in CV_TAPS)
    ry1 = max(tp[0] for tp in CV_TAPS)
    rx0 = min(tp[1] for tp in CV_TAPS)
    rx1 = max(tp[1] for tp in CV_TAPS)
    oh = t - (ry1 - ry0)
    ow = t - (rx1 - rx0)
    taps = ",".join(f"({dy},{dx},{w})" for dy, dx, w in CV_TAPS)
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, 99)) AS i),
hh AS (
  SELECT i, CAST(i % 10 AS BIGINT) AS x, CAST(i // 10 AS BIGINT) AS y,
         CAST(1 + ({sm}) % 13 AS BIGINT) AS a,
         CAST(1 + (({sm}) // 256) % 11 AS BIGINT) AS b,
         CAST((({sm}) // 65536) % 997 AS BIGINT) AS ph
  FROM ids),
px AS MATERIALIZED (
  SELECT x, y, r.v AS rv, c.v AS cv,
         (r.v * a + c.v * b + ph) % 256 AS v
  FROM hh
  CROSS JOIN (SELECT unnest(generate_series(0, {t - 1})) AS v) r
  CROSS JOIN (SELECT unnest(generate_series(0, {t - 1})) AS v) c),
og AS (
  SELECT h.x, h.y, oy.v AS oy, ox.v AS ox
  FROM (SELECT DISTINCT x, y FROM hh) h
  CROSS JOIN (SELECT unnest(generate_series(0, {oh - 1})) AS v) oy
  CROSS JOIN (SELECT unnest(generate_series(0, {ow - 1})) AS v) ox),
resp AS MATERIALIZED (
  SELECT o.x, o.y, o.oy, o.ox,
         CAST(SUM(k.w * p.v) AS BIGINT) AS r
  FROM og o
  CROSS JOIN (VALUES {taps}) k(dy, dx, w)
  JOIN px p ON p.x = o.x AND p.y = o.y
           AND p.rv = o.oy + k.dy - ({ry0})
           AND p.cv = o.ox + k.dx - ({rx0})
  GROUP BY 1, 2, 3, 4)
SELECT CAST(5 AS BIGINT) AS z, x, y,
       CAST({oh * ow} AS BIGINT) AS n_px,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(ABS(r)) AS BIGINT) AS sum_abs,
       CAST(MIN(r) AS BIGINT) AS min_r,
       CAST(MAX(r) AS BIGINT) AS max_r,
       CAST(SUM((oy * {ow} + ox + 1) * r) AS BIGINT) AS wsum
FROM resp GROUP BY x, y
"""


def _d8_best_ctes(t: int) -> str:
    """CTEs cand and best over `px`: every interior cell's D8 drop keys
    (`_D8_DIRS`) and their rank, rn = 1 being the steepest descent
    (ties to the lower direction d)."""
    return f"""cand AS MATERIALIZED (
  SELECT a.x, a.y, a.rv, a.cv, k.d, k.dy, k.dx,
         CASE WHEN a.e - b.e > 0
              THEN k.mult * (a.e - b.e) * (a.e - b.e)
              ELSE 0 END AS key
  FROM px a
  CROSS JOIN (VALUES {_D8_DIRS}) k(d, dy, dx, mult)
  JOIN px b ON b.x = a.x AND b.y = a.y
           AND b.rv = a.rv + k.dy AND b.cv = a.cv + k.dx
  WHERE a.rv BETWEEN 1 AND {t - 2} AND a.cv BETWEEN 1 AND {t - 2}),
best AS MATERIALIZED (
  SELECT x, y, rv, cv, d, dy, dx, key,
         row_number() OVER (
           PARTITION BY x, y, rv, cv ORDER BY key DESC, d) AS rn
  FROM cand)"""


def _quadratic_dem_tiles(spark: SparkSession, t: int) -> DataFrame:
    """100 Terrain-RGB tiles (z TER_Z, x = i % 10, y = i // 10) of
    the closed-form surface e_dm = ((r²·5 + c²·3 + r·c·2 + phase) % 40001)
    − 10000, phase = splitmix64(i) % 100003; the SQL twins replay it as
    `e`."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.operators.raster import terrain_rgb_encode
    from mapnik_vector_tile_spark.sources.synth import splitmix64

    def gen(it):
        for pdf in it:
            rows: dict[str, list] = {"z": [], "x": [], "y": [], "raster": []}
            for i in pdf["id"]:
                i = int(i)
                h = int(splitmix64(np.array([i], dtype=np.uint64))[0])
                phase = h % 100003
                r = np.arange(t, dtype=np.int64)
                rr, cc = r[:, None], r[None, :]
                e = ((rr * rr * 5 + cc * cc * 3 + rr * cc * 2 + phase) % 40001) - 10000
                rows["z"].append(TER_Z)
                rows["x"].append(i % 10)
                rows["y"].append(i // 10)
                rows["raster"].append(terrain_rgb_encode(e).tobytes())
            yield pd.DataFrame(rows)

    return spark.range(100).mapInPandas(
        gen, "z long, x long, y long, raster binary"
    )


def q_flow_d8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 flow direction (raster.flow_direction_tiles) over the
    closed-form Terrain-RGB surface, FULL oracle: DuckDB rebuilds per-
    cell drops with an 8-offset join, applies the identical cross-
    multiplied steepest-descent keys and pinned tie order, and folds
    the same per-(tile, dir) census — one mis-ranked neighbor
    anywhere shifts the hash."""
    from mapnik_vector_tile_spark.operators.raster import flow_direction_tiles

    T = TER_T
    tiles = _quadratic_dem_tiles(spark, T)
    return flow_direction_tiles(tiles, T)


def _sql_flow_d8(t: int = TER_T) -> str:
    return f"""
WITH {_dem_ctes(t, _QUADRATIC_DEM_E, True)},
cand AS MATERIALIZED (
  SELECT a.x, a.y, a.rv, a.cv, k.d,
         CASE WHEN a.e - b.e > 0
              THEN k.mult * (a.e - b.e) * (a.e - b.e)
              ELSE 0 END AS key
  FROM px a
  CROSS JOIN (VALUES {_D8_DIRS}) k(d, dy, dx, mult)
  JOIN px b ON b.x = a.x AND b.y = a.y
           AND b.rv = a.rv + k.dy AND b.cv = a.cv + k.dx
  WHERE a.rv BETWEEN 1 AND {t - 2} AND a.cv BETWEEN 1 AND {t - 2}),
best AS (
  SELECT x, y, rv, cv, d, key,
         row_number() OVER (
           PARTITION BY x, y, rv, cv ORDER BY key DESC, d) AS rn
  FROM cand),
win AS (
  SELECT x, y,
         CASE WHEN key > 0 THEN d ELSE -1 END AS dir,
         CASE WHEN key > 0 THEN key ELSE 0 END AS key
  FROM best WHERE rn = 1)
SELECT CAST({TER_Z} AS BIGINT) AS z, x, y, CAST(dir AS BIGINT) AS dir,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(key) AS BIGINT) AS sum_key
FROM win GROUP BY x, y, dir
"""


FA_ROUNDS = 8


def q_flow_accum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-bounded D8 flow accumulation (raster.flow_accumulation_
    tiles, 8 rounds) over the same quadratic Terrain-RGB surface as
    q_flow_d8, FULL oracle: DuckDB re-derives per-cell drainage edges
    (same window-rank steepest descent) and unrolls the identical 8
    relaxation rounds as MATERIALIZED CTEs."""
    from mapnik_vector_tile_spark.operators.raster import (
        flow_accumulation_tiles,
    )

    T = TER_T
    tiles = _quadratic_dem_tiles(spark, T)
    return flow_accumulation_tiles(tiles, T, rounds=FA_ROUNDS)


def _sql_flow_accum(t: int = TER_T, rounds: int = FA_ROUNDS) -> str:
    oh = t - 2
    relax = []
    for rd in range(1, rounds + 1):
        relax.append(
            f""",
a{rd} AS MATERIALIZED (
  SELECT n.x, n.y, n.cid,
         1 + COALESCE(m.s, 0) AS acc
  FROM cells n
  LEFT JOIN (
    SELECT e.x, e.y, e.dst AS cid, SUM(a.acc) AS s
    FROM edges e
    JOIN a{rd - 1} a ON a.x = e.x AND a.y = e.y AND a.cid = e.src
    GROUP BY e.x, e.y, e.dst) m
    ON m.x = n.x AND m.y = n.y AND m.cid = n.cid)"""
        )
    return f"""
WITH {_dem_ctes(t, _QUADRATIC_DEM_E, True)},
{_d8_best_ctes(t)},
cells AS MATERIALIZED (
  SELECT x, y, (rv - 1) * {oh} + (cv - 1) AS cid
  FROM best WHERE rn = 1),
edges AS MATERIALIZED (
  SELECT x, y,
         (rv - 1) * {oh} + (cv - 1) AS src,
         (rv - 1 + dy) * {oh} + (cv - 1 + dx) AS dst
  FROM best
  WHERE rn = 1 AND key > 0
    AND rv + dy BETWEEN 1 AND {t - 2}
    AND cv + dx BETWEEN 1 AND {t - 2}),
a0 AS (SELECT x, y, cid, CAST(1 AS BIGINT) AS acc FROM cells)
{''.join(relax)}
SELECT CAST({TER_Z} AS BIGINT) AS z, x, y,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(acc) AS BIGINT) AS sum_acc,
       CAST(MAX(acc) AS BIGINT) AS max_acc,
       CAST(SUM((cid + 1) * acc) AS BIGINT) AS wsum
FROM a{rounds} GROUP BY x, y
"""


IMG_HM_N = 150


def q_hist_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram matching to the closed-form triangular reference,
    FULL oracle: DuckDB rebuilds the luma histogram and cdf with
    windows, derives the lut by the same cross-multiplied min-t rule,
    and re-walks every pixel through it — positional wsum pins the
    whole mapped plane."""
    from mapnik_vector_tile_spark.operators.raster import (
        histogram_match_stats,
    )
    from mapnik_vector_tile_spark.sources.synth import images_df

    return histogram_match_stats(images_df(spark, IMG_HM_N))


def _sql_hist_match(n: int = IMG_HM_N) -> str:
    from mapnik_vector_tile_spark.operators.raster import HM_REF_DEN

    return f"""
WITH {_img_pixel_ctes(n)},
lum AS MATERIALIZED (
  SELECT i, w, h, y, x, (r * 77 + g * 151 + b * 28) // 256 AS g8
  FROM chan
),
np_ AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS n FROM lum GROUP BY i),
hist AS (
  SELECT i, g8 AS v, CAST(COUNT(*) AS BIGINT) AS c
  FROM lum GROUP BY i, g8),
cdf AS (
  SELECT i, v, CAST(SUM(c) OVER (
    PARTITION BY i ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT)
    AS cdf
  FROM hist),
reft AS (
  SELECT CAST(t AS BIGINT) AS t,
         CAST((t + 1) * (t + 2) // 2 AS BIGINT) AS num
  FROM (SELECT unnest(generate_series(0, 255)) AS t)),
lut AS MATERIALIZED (
  SELECT c.i, c.v, CAST(MIN(r.t) AS BIGINT) AS m
  FROM cdf c
  JOIN np_ ON np_.i = c.i
  JOIN reft r ON r.num * np_.n >= c.cdf * {HM_REF_DEN}
  GROUP BY c.i, c.v),
mapped AS (
  SELECT l.i, l.w, l.y, l.x, lut.m
  FROM lum l JOIN lut ON lut.i = l.i AND lut.v = l.g8)
SELECT 'img_' || lpad(CAST(d.i AS VARCHAR), 12, '0') AS image_id,
       np_.n AS n_px,
       CAST(SUM(mp.m) AS BIGINT) AS sum_m,
       CAST(MAX(mp.m) AS BIGINT) AS max_m,
       CAST(SUM((mp.y * mp.w + mp.x + 1) * mp.m) AS BIGINT) AS wsum,
       caps.caption AS caption
FROM dims d
JOIN np_ ON np_.i = d.i
JOIN mapped mp ON mp.i = d.i
JOIN caps ON caps.i = d.i
GROUP BY d.i, np_.n, caps.caption
"""


CM_PAIRS = 60


def q_cutmix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CutMix (raster.cutmix_stats) over 120 canonical images paired
    (i, i+60), FULL oracle: DuckDB regenerates both pixel planes,
    derives the same splitmix patch geometry over the shared
    dimension window, and replays the paste — mix ratios, patch
    areas, the positional wsum of every mixed plane, and the
    concatenated captions all under one hash."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators.raster import cutmix_stats
    from mapnik_vector_tile_spark.sources.synth import images_df

    imgs = images_df(spark, CM_PAIRS * 2)
    pairs = spark.range(CM_PAIRS).select(
        F.col("id").cast("long").alias("pair_id"),
        F.format_string("img_%012d", F.col("id")).alias("ida"),
        F.format_string("img_%012d", F.col("id") + CM_PAIRS).alias("idb"),
    )
    return cutmix_stats(imgs, pairs)


def _sql_cutmix(k: int = CM_PAIRS) -> str:
    sm = splitmix64_sql("pid")
    return f"""
WITH {_img_pixel_ctes(k * 2)},
lum AS MATERIALIZED (
  SELECT i, w, h, y, x, (r * 77 + g * 151 + b * 28) // 256 AS g8
  FROM chan
),
prs AS (
  SELECT CAST(p AS BIGINT) AS pid, CAST(p AS BIGINT) AS ia,
         CAST(p + {k} AS BIGINT) AS ib
  FROM (SELECT unnest(generate_series(0, {k - 1})) AS p)),
geo AS MATERIALIZED (
  SELECT prs.pid, prs.ia, prs.ib,
         da.w AS wa, da.h AS ha,
         1 + ({sm}) % GREATEST(1, LEAST(da.w, db.w) // 2) AS pw,
         1 + (({sm}) // 256) % GREATEST(1, LEAST(da.h, db.h) // 2) AS ph,
         LEAST(da.w, db.w) AS mw, LEAST(da.h, db.h) AS mh,
         ({sm}) // 65536 AS h16, ({sm}) // 16777216 AS h24
  FROM prs
  JOIN dims da ON da.i = prs.ia
  JOIN dims db ON db.i = prs.ib),
geo2 AS MATERIALIZED (
  SELECT pid, ia, ib, wa, ha, pw, ph,
         CAST(h16 % (mw - pw + 1) AS BIGINT) AS x0,
         CAST(h24 % (mh - ph + 1) AS BIGINT) AS y0
  FROM geo),
mixed AS (
  SELECT g.pid, g.wa, la.y, la.x,
         CASE WHEN la.x >= g.x0 AND la.x < g.x0 + g.pw
               AND la.y >= g.y0 AND la.y < g.y0 + g.ph
              THEN lb.g8 ELSE la.g8 END AS m
  FROM geo2 g
  JOIN lum la ON la.i = g.ia
  LEFT JOIN lum lb ON lb.i = g.ib AND lb.y = la.y AND lb.x = la.x)
SELECT g.pid AS pair_id,
       CAST(g.wa * g.ha - g.pw * g.ph AS BIGINT) AS lam_num,
       CAST(g.wa * g.ha AS BIGINT) AS lam_den,
       CAST(g.pw * g.ph AS BIGINT) AS patch_area,
       CAST(SUM((mx.y * mx.wa + mx.x + 1) * mx.m) AS BIGINT) AS wsum,
       ca.caption || ' | ' || cb.caption AS caption
FROM geo2 g
JOIN mixed mx ON mx.pid = g.pid
JOIN caps ca ON ca.i = g.ia
JOIN caps cb ON cb.i = g.ib
GROUP BY g.pid, g.wa, g.ha, g.pw, g.ph, ca.caption, cb.caption
"""


def q_quadtree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quadtree decomposition (raster.quadtree_stats, tau=24) over
    closed-form uint8 tiles mixing smooth gradients with hash noise
    patches (so splits genuinely vary by depth), FULL oracle: DuckDB
    rebuilds every depth's block max/min by integer-division grouping
    and replays the shallowest-homogeneous-ancestor leaf rule."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.operators.raster import quadtree_stats
    from mapnik_vector_tile_spark.sources.synth import splitmix64

    T = 16

    def gen(it):
        for pdf in it:
            rows = {"z": [], "x": [], "y": [], "raster": []}
            for i in pdf["id"]:
                i = int(i)
                h = int(splitmix64(np.array([i], dtype=np.uint64))[0])
                a = h % 3
                ph = (h >> 8) % 251
                r = np.arange(T, dtype=np.int64)
                # smooth base + a noisy quadrant: (r*a + ph) plus
                # per-pixel hash noise where (r//8 + c//8) is odd
                base = (r[:, None] * a + r[None, :] * a + ph) % 256
                ns = np.arange(T * T, dtype=np.uint64) + np.uint64(
                    i * 65537
                )
                # modulo in uint64 BEFORE the signed cast — int64(h) of
                # a top-bit-set hash is negative and flips the residue
                noise = (
                    (splitmix64(ns) % np.uint64(97))
                    .astype(np.int64)
                    .reshape(T, T)
                )
                quad = ((r[:, None] // 8 + r[None, :] // 8) % 2) == 1
                v = np.where(quad, (base + noise) % 256, base)
                rows["z"].append(5)
                rows["x"].append(i % 10)
                rows["y"].append(i // 10)
                rows["raster"].append(v.astype(np.uint8).tobytes())
            yield pd.DataFrame(rows)

    tiles = spark.range(100).mapInPandas(
        gen, "z long, x long, y long, raster binary"
    )
    return quadtree_stats(tiles, T)


def _sql_quadtree(t: int = 16, tau: int = 24) -> str:
    sm = splitmix64_sql("i")
    smn = splitmix64_sql("(r.v * 16 + c.v + i * 65537)")
    # per-depth leaf CTEs: homog(d) from block grouping, anc via
    # parent-chain joins
    parts = []
    for d in range(5):
        nb = 1 << d
        bs = t // nb
        anc_pred = " OR ".join(
            f"h{dd}.homog" for dd in range(d)
        ) or "FALSE"
        joins = "\n".join(
            f"  JOIN hb{dd} h{dd} ON h{dd}.x = b.x AND h{dd}.y = b.y"
            f" AND h{dd}.br = b.br // {1 << (d - dd)}"
            f" AND h{dd}.bc = b.bc // {1 << (d - dd)}"
            for dd in range(d)
        )
        parts.append(
            f""",
hb{d} AS MATERIALIZED (
  SELECT x, y, rv // {bs} AS br, cv // {bs} AS bc,
         (MAX(v) - MIN(v)) <= {tau} AS homog
  FROM px GROUP BY 1, 2, 3, 4),
lv{d} AS (
  SELECT b.x, b.y, CAST({d} AS BIGINT) AS depth,
         CAST(COUNT(CASE WHEN b.homog AND NOT ({anc_pred})
                    THEN 1 END) AS BIGINT) AS n_leaves,
         CAST(COALESCE(SUM(CASE WHEN b.homog AND NOT ({anc_pred})
                    THEN b.br * {nb} + b.bc + 1 END), 0) AS BIGINT)
           AS wsum
  FROM hb{d} b
{joins}
  GROUP BY b.x, b.y)"""
        )
    un = "\nUNION ALL\n".join(
        f"SELECT * FROM lv{d}" for d in range(5)
    )
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, 99)) AS i),
hh AS (
  SELECT i, CAST(i % 10 AS BIGINT) AS x, CAST(i // 10 AS BIGINT) AS y,
         CAST(({sm}) % 3 AS BIGINT) AS a,
         CAST((({sm}) // 256) % 251 AS BIGINT) AS ph
  FROM ids),
px AS MATERIALIZED (
  SELECT x, y, r.v AS rv, c.v AS cv,
         CASE WHEN (r.v // 8 + c.v // 8) % 2 = 1
              THEN ((r.v * a + c.v * a + ph) % 256
                    + ({smn}) % 97) % 256
              ELSE (r.v * a + c.v * a + ph) % 256 END AS v
  FROM hh
  CROSS JOIN (SELECT unnest(generate_series(0, {t - 1})) AS v) r
  CROSS JOIN (SELECT unnest(generate_series(0, {t - 1})) AS v) c){''.join(parts)}
SELECT CAST(5 AS BIGINT) AS z, x, y, depth, n_leaves, wsum
FROM ({un})
"""


WS_DOUBLING = 8  # full coverage: ceil(log2(14*14)) for the 16px corpus


def q_watershed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watershed basins (raster.watershed_tiles) over the quadratic
    Terrain-RGB surface, FULL oracle: DuckDB re-derives the D8
    pointers and unrolls the SAME 8 doubling rounds (root of root —
    2^8 hops ≥ the 196-cell interior, so every path fully resolves)
    as MATERIALIZED CTEs, then folds the identical basin census."""
    from mapnik_vector_tile_spark.operators.raster import watershed_tiles

    T = TER_T
    tiles = _quadratic_dem_tiles(spark, T)
    return watershed_tiles(tiles, T, doubling_rounds=WS_DOUBLING)


def _sql_watershed(t: int = TER_T, rounds: int = WS_DOUBLING) -> str:
    oh = t - 2
    body = []
    for rd in range(1, rounds + 1):
        body.append(
            f""",
rt{rd} AS MATERIALIZED (
  SELECT a.x, a.y, a.cid, b.root
  FROM rt{rd - 1} a
  JOIN rt{rd - 1} b ON b.x = a.x AND b.y = a.y AND b.cid = a.root)"""
        )
    return f"""
WITH {_dem_ctes(t, _QUADRATIC_DEM_E, True)},
{_d8_best_ctes(t)},
rt0 AS MATERIALIZED (
  SELECT x, y, (rv - 1) * {oh} + (cv - 1) AS cid,
         CASE WHEN key > 0
               AND rv + dy BETWEEN 1 AND {t - 2}
               AND cv + dx BETWEEN 1 AND {t - 2}
              THEN (rv - 1 + dy) * {oh} + (cv - 1 + dx)
              ELSE (rv - 1) * {oh} + (cv - 1) END AS root
  FROM best WHERE rn = 1){''.join(body)},
basins AS (
  SELECT x, y, root, CAST(COUNT(*) AS BIGINT) AS sz
  FROM rt{rounds} GROUP BY x, y, root)
SELECT CAST({TER_Z} AS BIGINT) AS z, x, y,
       CAST(COUNT(*) AS BIGINT) AS n_basins,
       CAST(MAX(sz) AS BIGINT) AS max_size,
       CAST(SUM(root * sz) AS BIGINT) AS wsum
FROM basins GROUP BY x, y
"""


SN_N = 80


def q_sniff_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header sniffing (raster.sniff_image_dims) gated end-to-end
    through ALL FOUR real containers: 80 canonical images re-encoded
    as png/jpeg/tiff/webp by i%4, then sniffed by the INDEPENDENT
    header parsers; the oracle replays the closed-form dims and the
    container cycle — a wrong byte order, marker walk, or IFD read
    breaks it."""
    import pandas as pd

    from mapnik_vector_tile_spark.operators.raster import (
        decode_image,
        encode_image,
        sniff_image_dims,
    )
    from mapnik_vector_tile_spark.sources.synth import images_df

    fmts = ("png", "jpeg", "tiff", "webp")

    def reenc(it):
        for pdf in it:
            out = {"image_id": [], "bytes": []}
            for r in pdf.itertuples():
                i = int(r.image_id.split("_")[1])
                rgba = decode_image(r.bytes, r.fmt, int(r.w), int(r.h))
                out["image_id"].append(r.image_id)
                out["bytes"].append(encode_image(rgba, fmts[i % 4]))
            yield pd.DataFrame(out)

    imgs = images_df(spark, SN_N).mapInPandas(
        reenc, "image_id string, bytes binary"
    )
    return sniff_image_dims(imgs)


def _sql_sniff_dims(n: int = SN_N) -> str:
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {n - 1})) AS i)
SELECT 'img_' || lpad(CAST(i AS VARCHAR), 12, '0') AS image_id,
       ['png', 'jpeg', 'tiff', 'webp'][CAST(i % 4 AS INT) + 1]
         AS container,
       CAST(16 + (i * 7) % 49 AS BIGINT) AS w,
       CAST(16 + (i * 11) % 49 AS BIGINT) AS h
FROM ids
"""


def q_viewshed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R18 viewshed (raster.viewshed_tiles — the R3 reference
    algorithm: half-cell corridor membership + sign-aware squared
    cross-multiplied slope compare, ties block) over the SAME
    quadratic Terrain-RGB corpus as q_watershed, FULL oracle: DuckDB
    re-derives the surface closed-form and replays the exact
    corridor and slope predicates as one pairwise join per tile —
    n_visible, the positional visibility hash and the farthest
    visible distance² all sit under the value hash."""
    from mapnik_vector_tile_spark.operators.raster import viewshed_tiles

    T = TER_T
    tiles = _quadratic_dem_tiles(spark, T)
    return viewshed_tiles(tiles, T)


def _sql_viewshed(t: int = TER_T, obs_h: int = 500) -> str:
    o = t // 2
    cmp_ge = (
        "CASE WHEN k.a >= 0 AND t.a < 0 THEN TRUE "
        "WHEN k.a < 0 AND t.a >= 0 THEN FALSE "
        "WHEN t.a >= 0 THEN k.a * k.a * t.p >= t.a * t.a * k.p "
        "ELSE k.a * k.a * t.p <= t.a * t.a * k.p END"
    )
    return f"""
WITH {_dem_ctes(t, _QUADRATIC_DEM_E, True)},
obs AS (SELECT x, y, e AS eo FROM px WHERE rv = {o} AND cv = {o}),
cells AS MATERIALIZED (
  SELECT px.x, px.y, rv, cv,
         cv - {o} AS dx, rv - {o} AS dy,
         (cv - {o}) * (cv - {o}) + (rv - {o}) * (rv - {o}) AS p,
         e - (eo + {obs_h}) AS a
  FROM px JOIN obs USING (x, y)),
blocked AS (
  SELECT DISTINCT t.x, t.y, t.rv, t.cv
  FROM cells t JOIN cells k
    ON k.x = t.x AND k.y = t.y
   AND NOT (k.rv = t.rv AND k.cv = t.cv)
   AND (t.dx * k.dx + t.dy * k.dy) > 0
   AND (t.dx * k.dx + t.dy * k.dy) < t.p
   AND 4 * (t.dx * k.dy - t.dy * k.dx) * (t.dx * k.dy - t.dy * k.dx)
       < t.p
   AND ({cmp_ge})),
vis AS (
  SELECT c.x, c.y, c.rv, c.cv, c.p
  FROM cells c
  ANTI JOIN blocked b
    ON b.x = c.x AND b.y = c.y AND b.rv = c.rv AND b.cv = c.cv
  WHERE c.p > 0)
SELECT CAST({TER_Z} AS BIGINT) AS z, x, y,
       CAST(COUNT(*) AS BIGINT) AS n_visible,
       CAST(SUM(cv * 8191 + rv) AS BIGINT) AS vis_hash,
       CAST(MAX(p) AS BIGINT) AS max_vis_d2
FROM vis GROUP BY x, y
"""


def q_viewshed_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R18 viewshed SCALE path (raster.viewshed_sweep_tiles — the
    corridor line-walk, O(T³) pairs / O(T²) memory) over the SAME
    corpus as q_viewshed, against the SAME DuckDB twin — the
    delta-stepping-vs-bellman-ford pinning pattern: the refinement
    must reproduce the reference predicate's output bit-for-bit,
    independently of the Spark-side reference implementation."""
    from mapnik_vector_tile_spark.operators.raster import viewshed_sweep_tiles

    T = TER_T
    tiles = _quadratic_dem_tiles(spark, T)
    return viewshed_sweep_tiles(tiles, T)


STR_T = 10  # 8x8 interior: recursion depth 64 covers any simple path


def q_strahler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strahler stream order (raster.strahler_tiles) over the
    quadratic Terrain-RGB surface at 10px tiles, FULL oracle: DuckDB
    re-derives the D8 receivers closed-form and iterates the EXACT
    junction rule (max child order, +1 on a tied max, leaves = 1) as
    a list-carrying recursive CTE over (tile_size−2)² rounds —
    provably past convergence (a drainage tree's height is bounded
    by the interior cell count) — then folds the same order census
    and positional witness."""
    from mapnik_vector_tile_spark.operators.raster import strahler_tiles

    T = STR_T
    tiles = _quadratic_dem_tiles(spark, T)
    return strahler_tiles(tiles, T)


def _sql_strahler(t: int = STR_T) -> str:
    oh = t - 2
    n = oh * oh
    rounds = n
    return f"""
WITH RECURSIVE {_dem_ctes(t, _QUADRATIC_DEM_E, True)},
{_d8_best_ctes(t)},
rcv AS MATERIALIZED (
  SELECT x, y, (rv - 1) * {oh} + (cv - 1) AS cid,
         CASE WHEN key > 0
               AND rv + dy BETWEEN 1 AND {t - 2}
               AND cv + dx BETWEEN 1 AND {t - 2}
              THEN (rv - 1 + dy) * {oh} + (cv - 1 + dx)
              ELSE -1 END AS recv
  FROM best WHERE rn = 1),
rl AS MATERIALIZED (
  SELECT x, y, list(recv ORDER BY cid) AS recv FROM rcv GROUP BY x, y),
st(x, y, recv, ords, r) AS (
  SELECT x, y, recv,
         list_transform(range(0, {n}), z9 -> CAST(1 AS BIGINT)), 0
  FROM rl
  UNION ALL
  SELECT x, y, recv,
         list_transform(range(0, {n}), i -> CASE
           WHEN len(ko[i + 1]) = 0 THEN CAST(1 AS BIGINT)
           ELSE list_max(ko[i + 1]) + CASE
             WHEN len(list_filter(ko[i + 1],
                                  v -> v = list_max(ko[i + 1]))) >= 2
             THEN 1 ELSE 0 END
         END),
         r + 1
  FROM (
    SELECT x, y, recv, r,
           list_transform(range(0, {n}), i ->
             list_transform(
               list_filter(range(0, {n}), j -> recv[j + 1] = i),
               j -> ords[j + 1])) AS ko
    FROM st WHERE r < {rounds}
  ) s1
),
fin AS (
  SELECT x, y, ords FROM st WHERE r = {rounds}),
ex AS (
  SELECT x, y, g.i AS cid, ords[g.i + 1] AS o
  FROM fin, unnest(generate_series(0, {n - 1})) AS g(i))
SELECT CAST({TER_Z} AS BIGINT) AS z, x, y,
       CAST(MAX(o) AS BIGINT) AS max_order,
       CAST(SUM(CASE WHEN o = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_sources,
       CAST(SUM(o) AS BIGINT) AS sum_order,
       CAST(SUM(o * ((cid % {oh}) * 8191 + (cid // {oh}))) AS BIGINT)
         AS whash
FROM ex GROUP BY x, y
"""


BLOB_N = 400  # same corpus size as the other full-pixel image oracles


def q_image_blobs(spark, sf_dir: str):
    """T12j blob labeling (raster.blob_stats) with a FULL oracle: the
    DuckDB twin regenerates every pixel from the shared CTE chain,
    builds the 4-adjacency edge list with two equi-joins (pid+1 /
    pid+w — no quadratic join), and replays min-label propagation as
    a RECURSIVE CTE to the exact fixpoint (r5; see _sql_image_blobs'
    docstring for the planner cliff that killed the old unroll)."""
    from mapnik_vector_tile_spark.operators.raster import blob_stats
    from mapnik_vector_tile_spark.sources.synth import images_df

    return blob_stats(images_df(spark, BLOB_N))


def _sql_image_blobs(n: int = BLOB_N) -> str:
    """r5 rewrite of the min-label replay: the former 22-round unrolled
    relax-join chain tripped a DuckDB planner cliff past ~4 CTE levels
    (the whole query went ~5 s -> ~40 s from PLANNING, not data — the
    pixel chain re-evaluated and pipelines serialized), so propagation
    is now a RECURSIVE CTE: seed (pid, pid), step emits a neighbor's
    label when it is smaller than the target pid, UNION dedups, and
    MIN(l) per pid after the fixpoint IS the component min-label — the
    engine's exact answer with no unroll margin to maintain.  Row
    bound: a label reaches only members of its own component, so the
    working set is <= sum(component size^2) — max_comp on this corpus
    is 27 px (pinned <= 20 relax distance in tests/test_raster.py), a
    few-million-row recursion.  Measured 43 s -> 6 s at sf0.01,
    bit-identical output."""
    return f"""
WITH RECURSIVE {_img_pixel_ctes(n)},
lum AS MATERIALIZED (
  SELECT i, w, h, y, x, (r*77 + g*151 + b*28) // 256 AS g8 FROM chan),
fg AS MATERIALIZED (
  SELECT i, w, y*w + x AS pid, x, y FROM lum WHERE g8 % 4 = 0),
e0 AS (
  SELECT a.i, a.pid AS ap, b.pid AS bp
  FROM fg a JOIN fg b ON a.i = b.i AND b.pid = a.pid + 1 AND b.y = a.y
  UNION ALL
  SELECT a.i, a.pid, b.pid
  FROM fg a JOIN fg b ON a.i = b.i AND b.pid = a.pid + a.w),
edges AS MATERIALIZED (
  SELECT i, ap, bp FROM e0 UNION ALL SELECT i, bp, ap FROM e0),
lab AS (
  SELECT i, pid, pid AS l FROM fg
  UNION
  SELECT e.i, e.ap AS pid, lb.l
  FROM lab lb JOIN edges e ON e.i = lb.i AND e.bp = lb.pid
  WHERE lb.l < e.ap
),
fin AS (SELECT i, pid, MIN(l) AS l FROM lab GROUP BY i, pid),
comp AS (SELECT i, l AS root, COUNT(*) AS sz FROM fin GROUP BY i, l),
ag AS (
  SELECT i, SUM(sz) AS n_fg, COUNT(*) AS n_comps, MAX(sz) AS max_comp,
         SUM((root * 1000003 + sz) % 2147483647) AS ch
  FROM comp GROUP BY i)
SELECT 'img_' || lpad(CAST(d.i AS VARCHAR), 12, '0') AS image_id,
       CAST(COALESCE(a.n_fg, 0) AS BIGINT) AS n_fg,
       CAST(COALESCE(a.n_comps, 0) AS BIGINT) AS n_comps,
       CAST(COALESCE(a.max_comp, 0) AS BIGINT) AS max_comp,
       CAST(COALESCE(a.ch, 0) AS BIGINT) AS ch,
       caps.caption AS caption
FROM dims d
LEFT JOIN ag a ON d.i = a.i
JOIN caps ON d.i = caps.i
"""


def pairs() -> dict[str, tuple[Callable, str]]:
    """key -> (spark_fn, oracle SQL template)."""
    return {
        "q_template_match": (q_template_match, _sql_template_match()),
        "q_image_gradients": (q_image_gradients, _sql_image_gradients()),
        "q_raster_tiles": (q_raster_tiles, _sql_raster_tiles()),
        "q_geotiff_tiles": (q_geotiff_tiles, _sql_raster_tiles()),
        "q_raster_overzoom": (q_raster_overzoom, _sql_raster_overzoom()),
        "q_phash_neardup": (q_phash_neardup, _sql_phash_neardup()),
        "q_phash_mi": (q_phash_mi, _sql_phash_neardup()),
        "q_rasterize_coverage": (
            q_rasterize_coverage,
            _sql_rasterize_coverage(),
        ),
        "q_raster_jpeg": (q_raster_jpeg, _sql_raster_jpeg()),
        "q_raster_png": (q_raster_png, _sql_raster_png()),
        "q_raster_webp": (q_raster_webp, _sql_raster_webp()),
        "q_raster_tiff": (q_raster_tiff, _sql_raster_tiff()),
        "q_raster_png8": (q_raster_png8, _sql_raster_png8()),
        "q_zonal_stats": (q_zonal_stats, _sql_zonal_stats()),
        "q_image_thumbs": (q_image_thumbs, _sql_image_thumbs()),
        "q_image_blur": (q_image_blur, _sql_image_blur()),
        "q_image_otsu": (q_image_otsu, _sql_image_otsu()),
        "q_image_equalize": (q_image_equalize, _sql_image_equalize()),
        "q_image_phash": (q_image_phash, _sql_image_phash()),
        "q_marching_squares": (q_marching_squares, _sql_marching_squares()),
        "q_image_curation": (q_image_curation, _sql_image_curation()),
        "q_image_dhash": (q_image_dhash, _sql_image_dhash()),
        "q_letterbox": (q_letterbox, _sql_letterbox()),
        "q_augment": (q_augment, _sql_augment()),
        "q_ar_bucket_batches": (q_ar_bucket_batches, _sql_ar_bucket_batches()),
        "q_raster_downzoom": (q_raster_downzoom, _sql_raster_downzoom()),
        "q_raster_composite": (q_raster_composite, _sql_raster_composite()),
        "q_terrain_rgb": (q_terrain_rgb, _sql_terrain_rgb()),
        "q_exif_orient": (q_exif_orient, _sql_exif_orient()),
        "q_hillshade": (q_hillshade, _sql_hillshade()),
        "q_sprite": (q_sprite, _sql_sprite()),
        "q_harris": (q_harris, _sql_harris()),
        "q_quality_mosaic": (q_quality_mosaic, _sql_quality_mosaic()),
        "q_convolve": (q_convolve, _sql_convolve()),
        "q_flow_d8": (q_flow_d8, _sql_flow_d8()),
        "q_flow_accum": (q_flow_accum, _sql_flow_accum()),
        "q_hist_match": (q_hist_match, _sql_hist_match()),
        "q_cutmix": (q_cutmix, _sql_cutmix()),
        "q_quadtree": (q_quadtree, _sql_quadtree()),
        "q_watershed": (q_watershed, _sql_watershed()),
        "q_sniff_dims": (q_sniff_dims, _sql_sniff_dims()),
        "q_viewshed": (q_viewshed, _sql_viewshed()),
        "q_viewshed_sweep": (q_viewshed_sweep, _sql_viewshed()),
        "q_strahler": (q_strahler, _sql_strahler()),
        "q_image_blobs": (q_image_blobs, _sql_image_blobs()),
    }
