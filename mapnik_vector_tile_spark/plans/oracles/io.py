"""Oracle pairs for the format round-trips: the readers and writers
under sources/ (GeoJSON, WKT/WKB, shapefile, CSV, MBTiles, PMTiles,
the tile store, WebDataset).

`pairs()` maps each query key to (spark_fn, oracle SQL template);
`plans.oracles.sql_pairs()` merges the families."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mapnik_vector_tile_spark.plans import shared_sql as S
from mapnik_vector_tile_spark.plans.oracles.tiles import (
    MBT_Z_HI,
    MBT_Z_LO,
    _band_tiles_ctes,
    _engine_point_features,
)
from mapnik_vector_tile_spark.plans.shared_sql import splitmix64_sql


def q_geojson_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 GeoJSON source parity: orders keys -> newline-delimited
    GeoJSON Feature documents (pure-arithmetic lon/lat, repr-exact
    doubles in the JSON text) -> sources.geojson parse -> lonlat->merc
    -> EP1 encode at z7 -> per-tile feature counts. Oracle replays the
    identical arithmetic + the merc trig in DuckDB; libm drift between
    numpy and DuckDB is ~1 ulp (~1e-9 m), ~14 orders of magnitude
    below the z7 tile span, so floor() parity holds."""
    import json as _json

    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import tiling as T
    from mapnik_vector_tile_spark.sources.geojson import geojson_to_features

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey")

    def gen(batches):
        for pdf in batches:
            k = pdf["o_orderkey"].to_numpy().astype(np.int64)
            if not len(k):
                continue
            u1 = ((k * 2654435761) % 2**32) / float(2**32)
            u2 = ((k * 1103515245 + 12345) % 2**32) / float(2**32)
            lon = u1 * 360.0 - 180.0
            lat = u2 * 170.0 - 85.0
            docs = [
                _json.dumps(
                    {
                        "type": "Feature",
                        "id": int(kk),
                        "geometry": {
                            "type": "Point",
                            "coordinates": [float(lo), float(la)],
                        },
                        "properties": {"caption": f"c{int(kk)}"},
                    },
                    separators=(",", ":"),
                )
                for kk, lo, la in zip(k, lon, lat)
            ]
            yield pd.DataFrame({"json": docs})

    docs_df = orders.mapInPandas(gen, schema="json string")
    feats = geojson_to_features(docs_df)
    assigned = T.assign_tiles(feats, 7, 7, buffer_units=0)
    tiles = T.encode_tiles(assigned)
    return tiles.select(
        "z", "x", "y", F.col("n_features").cast("bigint").alias("n_features")
    )


def _sql_geojson_tiles(z: int = 7) -> str:
    from math import pi

    from mapnik_vector_tile_spark.functions.tilemath import R

    lon = (
        "((((o_orderkey) * 2654435761) % 4294967296) / "
        f"{S.flit(2**32)}) * 360e0 - 180e0"
    )
    lat = (
        "((((o_orderkey) * 1103515245 + 12345) % 4294967296) / "
        f"{S.flit(2**32)}) * 170e0 - 85e0"
    )
    tx, ty = S.tile_xy_exprs(z)
    return f"""
WITH ll AS (
  SELECT o_orderkey AS id, {lon} AS lon, {lat} AS lat FROM orders
),
pts AS (
  SELECT id,
         {S.flit(R)} * (lon * {S.flit(pi / 180.0)}) AS mx,
         {S.flit(R)} * ln(tan({S.flit(pi / 4.0)} + (lat * {S.flit(pi / 180.0)}) / 2.0)) AS my
  FROM ll
)
SELECT {z} AS z, {tx} AS x, {ty} AS y,
       CAST(COUNT(*) AS BIGINT) AS n_features
FROM pts GROUP BY 2, 3
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


def _band_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(z, x, y, tile) of the order-point pyramid z MBT_Z_LO..MBT_Z_HI,
    encoded 8-way salted: the archive written by the round-trip keys."""
    from mapnik_vector_tile_spark.operators import tiling as T

    feats = _engine_point_features(spark, sf_dir)
    assigned = T.assign_tiles(feats, MBT_Z_LO, MBT_Z_HI, buffer_units=0)
    return T.fold_tiles(T.encode_layers(assigned, n_salts=8)).select(
        "z", "x", "y", "tile"
    )


def _roundtrip_summary(tiles: DataFrame, back: DataFrame) -> DataFrame:
    """Per-zoom tile count and x/y sums of `tiles` full-joined with the
    read-back `back` (z, x, y, rt); blobs_match is TRUE only if every
    tile came back byte-identical with no extras or missing tiles."""
    from pyspark.sql import functions as F

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

    from mapnik_vector_tile_spark.sources.mbtiles import (
        read_mbtiles,
        write_mbtiles_shards,
    )

    tiles = _band_tiles(spark, sf_dir)
    # pid-suffixed dir: concurrent sweeps/benches on one host must not
    # rmtree each other's shards mid-read (within one process, repeat
    # executions re-read the same still-present shards)
    out_dir = f"/tmp/mvt_mbtiles_gate_{os.getpid()}"
    shutil.rmtree(out_dir, ignore_errors=True)
    write_mbtiles_shards(
        tiles, out_dir, metadata={"name": "mbtiles-gate"}, num_shards=8
    )
    back = read_mbtiles(spark, out_dir).withColumnRenamed("tile", "rt")
    return _roundtrip_summary(tiles, back)


def _sql_mbtiles(z_lo: int = MBT_Z_LO, z_hi: int = MBT_Z_HI) -> str:
    return f"""
WITH {_band_tiles_ctes(z_lo, z_hi)}
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

    from mapnik_vector_tile_spark.sources.store import (
        read_tile_store,
        write_tile_store,
    )

    tiles = _band_tiles(spark, sf_dir)
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
    return _roundtrip_summary(tiles, back)


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

    from mapnik_vector_tile_spark.sources.pmtiles import (
        read_pmtiles,
        write_pmtiles_shards,
    )

    tiles = _band_tiles(spark, sf_dir)
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
    return _roundtrip_summary(tiles, back)


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


def pairs() -> dict[str, tuple[Callable, str]]:
    """key -> (spark_fn, oracle SQL template)."""
    return {
        "q_geojson_tiles": (q_geojson_tiles, _sql_geojson_tiles(7)),
        "q_wkt_ingest": (q_wkt_ingest, _sql_wkt_ingest()),
        "q_wkb_ingest": (q_wkb_ingest, _sql_wkt_ingest()),
        "q_shp_ingest": (q_shp_ingest, _sql_wkt_ingest()),
        "q_csv_ingest": (q_csv_ingest, _sql_csv_ingest()),
        "q_mbtiles_roundtrip": (q_mbtiles_roundtrip, _sql_mbtiles()),
        "q_pmtiles_roundtrip": (q_pmtiles_roundtrip, _sql_mbtiles()),
        "q_store_partitioned": (q_store_partitioned, _sql_mbtiles()),
        "q_wds_roundtrip": (q_wds_roundtrip, _sql_wds_roundtrip()),
    }
