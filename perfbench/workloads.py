"""The three workloads: seeded inputs, timed operations, traced variants
of each operation, and the checks of every output.

pyramid_build  seeded image footprints -> images_to_features ->
               encode_tiles_from_features (z0..z_max, buffered) ->
               write_tile_store, one whole pyramid per operation.
tile_serve     a closed loop of client threads sending Zipf-skewed tile
               requests against a store built during set-up: `stored`
               requests (pruned store read + decode_tiles_to_features)
               and `overzoom` requests (tiles_to_layers + overzoom_layers).
spatial_join   pip_join_broadcast of seeded image points against the
               synthetic region polygons, then knn_join of a seeded query
               subset against all points, one round per operation.

The seed only drives the generators (image id offset, request sequence,
query subsets); the program sees the generated inputs and nothing else.
"""

from __future__ import annotations

import glob
import os
import statistics
import threading
import time
import traceback
from dataclasses import dataclass, replace
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from mapnik_vector_tile_spark.functions import pbf
from mapnik_vector_tile_spark.functions import pip as pipmod
from mapnik_vector_tile_spark.functions import tilemath as tm
from mapnik_vector_tile_spark.operators import composite as C
from mapnik_vector_tile_spark.operators import joins as J
from mapnik_vector_tile_spark.operators import tiling as T
from mapnik_vector_tile_spark.operators.grouped import group_starts
from mapnik_vector_tile_spark.sources import store as S
from mapnik_vector_tile_spark.sources import synth

IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long"
)
TILE_SCHEMA = "z int, x long, y long, tile binary"
# cell level of the pip prefilter, passed to pip_join_broadcast and used
# for its candidate count, so that both read the same cells
PIP_Z = 7


@dataclass(frozen=True)
class Sizes:
    build_images: int = 5000
    warm_images: int = 300
    z_max: int = 11
    buffer: int = 64
    serve_images: int = 1000
    # the request mix is assumed, not taken from measured tile traffic
    stored_candidates: int = 512
    parent_candidates: int = 64
    overzoom_share: float = 0.2
    zipf_s: float = 1.1
    join_points: int = 20000
    knn_queries: int = 1000
    knn_k: int = 5
    check_sample: int = 200
    min_ops: int = 2
    serve_warm_s: float = 8.0
    # traced run: coverage of layers the workload itself does not call
    cov_images: int = 800
    cov_requests: int = 8
    # traced run: fixed in-process kernel batches
    kernel_images: int = 3000
    kernel_z: int = 8
    kernel_points: int = 20000
    trivial_jobs: int = 30


SMOKE = replace(
    Sizes(),
    build_images=300,
    warm_images=50,
    z_max=7,
    serve_images=300,
    stored_candidates=32,
    parent_candidates=8,
    join_points=2000,
    knn_queries=100,
    check_sample=50,
    serve_warm_s=1.0,
    cov_images=200,
    cov_requests=4,
    kernel_images=300,
    kernel_points=2000,
    trivial_jobs=3,
)


@dataclass
class Op:
    """One operation: latency in seconds, the items it completed, its
    output (kept for the checks) and whether it failed."""

    kind: str
    latency: float
    items: int
    out: Any
    ok: bool


class Ctx:
    def __init__(self, spark, tracer, seed, sizes, work, clients):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.sizes = sizes
        self.work = work
        self.clients = clients
        self.failures: list[str] = []

    def fail(self, op: Op | None, why: str) -> None:
        if op is not None:
            op.ok = False
        self.failures.append(why)


def image_start(seed: int) -> int:
    """First image index of the seed's block (ids stay below 10^12, the
    12-digit image_id width)."""
    return (seed % 1_000_000) * 1_000_000


def seeded_images(spark, n: int, start: int):
    """The input_hint images table for ids [start, start+n), generated
    distributed like synth.images_df (which always starts at id 0)."""

    def gen(it):
        for pdf in it:
            ids = pdf["id"].to_numpy()
            if not len(ids):
                continue
            runs = np.split(ids, np.nonzero(np.diff(ids) != 1)[0] + 1)
            yield pd.concat(
                synth.gen_images_pdf(len(r), int(r[0]), with_bytes=False)
                for r in runs
            )

    slices = max(8, spark.sparkContext.defaultParallelism)
    return spark.range(start, start + n, 1, slices).mapInPandas(
        gen, schema=IMAGES_SCHEMA
    )


def seeded_points(n: int, start: int) -> pd.DataFrame:
    """Image footprint points (id, mx, my) in EPSG:3857."""
    i = np.arange(start, start + n, dtype=np.int64)
    lon, lat, _ = synth.footprint_from_phash(synth.phash_for_index(i), i)
    mx, my = tm.lonlat_to_merc_np(lon, lat)
    return pd.DataFrame({"id": i, "mx": mx, "my": my})


def timed(ctx: Ctx, kind: str, fn) -> Op:
    """Run one operation (``fn() -> (items, output)``); an exception
    counts as a failed operation."""
    t0 = time.perf_counter()
    try:
        items, out = fn()
        op = Op(kind, 0.0, items, out, True)
    except Exception:
        traceback.print_exc()
        op = Op(kind, 0.0, 0, None, True)
        ctx.fail(op, f"{kind} raised")
    op.latency = time.perf_counter() - t0
    return op


def sequential(ctx: Ctx, seconds: float, run_one) -> list[Op]:
    """Operations back to back: as many as the first one's latency fits
    in ``seconds``, at least ``min_ops``. The count does not depend on
    how the later operations go, so every run times the same mix of
    warmer and colder operations."""
    ops = [run_one()]
    count = max(ctx.sizes.min_ops, int(seconds // max(ops[0].latency, 1e-3)))
    while len(ops) < count:
        ops.append(run_one())
    return ops


def median_rate(ops: list[Op]) -> float:
    good = [o.items / o.latency for o in ops if o.ok]
    return statistics.median(good) if good else 0.0


def store_dir(ctx: Ctx, name: str) -> str:
    return os.path.join(ctx.work, "stores", name)


def store_bytes(path: str) -> int:
    return sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(path, "z=*", "*.parquet"))
    )


def per_zoom(ctx: Ctx, path: str) -> tuple:
    """(z, tile count, sum of n_features) per zoom of a committed store."""
    rows = (
        S.read_tile_store(ctx.spark, path)
        .groupBy("z")
        .agg(F.count("*").alias("n"), F.sum("n_features").alias("f"))
        .collect()
    )
    return tuple(sorted((int(r.z), int(r.n), int(r.f)) for r in rows))


def invalid_tiles(ctx: Ctx, path: str) -> int:
    tiles = S.read_tile_store(ctx.spark, path).select("z", "x", "y", "tile")
    return C.validate_tiles(tiles).filter(~F.col("valid")).count()


# --- pyramid build -------------------------------------------------------


def build_pyramid(ctx: Ctx, n: int, start: int, path: str) -> tuple:
    sz = ctx.sizes
    feats = T.images_to_features(seeded_images(ctx.spark, n, start))
    tiles = T.encode_tiles_from_features(
        feats, 0, sz.z_max, buffer_units=sz.buffer
    )
    S.write_tile_store(tiles, path)
    return 2 * n, path  # one point and one quad feature per image


def build_pyramid_traced(
    ctx: Ctx, n: int, start: int, path: str, name: str = "pyramid_build"
) -> tuple:
    """encode_tiles_from_features taken apart into its public layer
    calls, each layer's output persisted inside its own span so that a
    layer's work is timed apart from the next layer's."""
    sz, tr = ctx.sizes, ctx.tracer
    held = []

    def keep(df):
        df = df.persist()
        held.append(df)
        return df, df.count()

    with tr.span(name):
        images = seeded_images(ctx.spark, n, start)
        with tr.span("operators.tiling.images_to_features") as a:
            feats, a["rows"] = keep(T.images_to_features(images))
        with tr.span("operators.tiling.assign_tiles") as a:
            hi, n_hi = keep(
                T.assign_tiles(feats, T.SALT_MAX_Z + 1, sz.z_max, sz.buffer)
            )
            lo, n_lo = keep(T.assign_tiles(feats, 0, T.SALT_MAX_Z, sz.buffer))
            a["rows_in"], a["rows"] = 2 * n, n_hi + n_lo
        with tr.span("operators.tiling.encode_layer_partials") as enc:
            hi_tiles, n_hit = keep(
                T.encode_layer_partials(
                    hi, emit_tiles=True, buffer_units=sz.buffer
                )
            )
            lo_parts, n_lop = keep(
                T.encode_layer_partials(lo, buffer_units=sz.buffer)
            )
        with tr.span("operators.tiling.fold_tiles_from_partials") as a:
            lo_tiles, n_lot = keep(T.fold_tiles_from_partials(lo_parts))
            a["partials"], a["tiles"] = n_lop, n_lot
        with tr.span("sources.store.write_tile_store") as wr:
            S.write_tile_store(hi_tiles.unionByName(lo_tiles), path)
    # bookkeeping outside the spans: bytes committed, encode group count
    wr["tiles"], wr["bytes"] = n_hit + n_lot, store_bytes(path)
    enc["groups"] = (
        hi.select("z", "x", "y").distinct().count()
        + T.with_salt(lo).select("z", "x", "y", "salt").distinct().count()
    )
    for df in held:
        df.unpersist()
    return 2 * n, path


class PyramidBuild:
    name = "pyramid_build"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.start = image_start(ctx.seed)
        self.store = None  # a committed store the coverage pass may serve
        self._built = 0

    def setup(self) -> None:
        # a small build of other ids runs the whole plan once (codegen,
        # Python workers), so that set-up stays short and the timed
        # builds can be large; a failure here fails the run
        ctx = self.ctx
        timed(ctx, "warm-up", lambda: build_pyramid(
            ctx, ctx.sizes.warm_images, self.start + 900_000,
            store_dir(ctx, "warm-up"),
        ))

    def run_phase(self, seconds: float, traced: bool) -> tuple[list, float]:
        ctx = self.ctx
        fn = build_pyramid_traced if traced else build_pyramid

        def one() -> Op:
            path = store_dir(ctx, f"build-{self._built}")
            self._built += 1
            return timed(
                ctx, "build",
                lambda: fn(ctx, ctx.sizes.build_images, self.start, path),
            )

        t0 = time.perf_counter()
        ops = sequential(ctx, seconds, one)
        self.store = ops[-1].out
        return ops, time.perf_counter() - t0

    def check(self, ops: list[Op]) -> None:
        """Every tile of the first build is valid, and every later build
        repeats its tile count and feature sum per zoom exactly."""
        ctx, first = self.ctx, ops[0]
        ref = per_zoom(ctx, first.out) if first.ok else ()
        self.n_tiles = sum(n for _, n, _ in ref)
        bad = invalid_tiles(ctx, first.out) if ref else 0
        if bad or not ref:
            ctx.fail(first, f"first pyramid: {bad} tiles fail tile_is_valid")
        for op in ops[1:]:
            if op.ok and per_zoom(ctx, op.out) != ref:
                ctx.fail(op, "per-zoom tile counts / feature sums differ")

    def items_per_s(self, ops, window) -> float:
        return median_rate(ops)

    def details(self, ops, window) -> dict:
        return {
            "build_features_per_s": (median_rate(ops), "1/s"),
            "builds": (len(ops), "count"),
            "tiles_per_build": (getattr(self, "n_tiles", 0), "count"),
        }


# --- tile serving --------------------------------------------------------


def zipf_pick(rng, n: int, s: float, size: int) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return rng.choice(n, size=size, p=p / p.sum())


def tile_filter(z: int, x: int, y: int):
    return (F.col("z") == z) & (F.col("x") == x) & (F.col("y") == y)


def tile_fids(blob: bytes) -> list[int]:
    """Feature ids of a stored tile, decoded in the driver."""
    return sorted(
        int(f["id"])
        for lmsg in pbf.decode_tile(pbf.maybe_decompress(blob))
        for f in pbf.decode_layer(lmsg)["features"]
    )


def fast_path_fids(blob: bytes) -> list[int]:
    """Feature ids of this stored tile that decode_tiles_to_features
    takes through its batched canonical-singles path, none when the tile
    falls back. A copy of the program's choice, made with the same public
    pbf scan + batch decode it calls; the caller checks that the copy
    stays within what the program returns."""
    blob = pbf.maybe_decompress(blob)
    descs = pbf.scan_singles_tile(blob)
    if descs is None:
        return []
    res, bad = pbf.decode_singles_batch(
        descs, [blob], [0] * len(descs), n_tiles=1
    )
    return [] if res is None or bad else [int(f) for f in res["fid"]]


class TileServe:
    name = "tile_serve"

    def __init__(self, ctx: Ctx, store: str | None = None):
        self.ctx = ctx
        self.store = store or store_dir(ctx, "serve")
        self._sent = 0

    def setup(self) -> None:
        ctx, sz = self.ctx, self.ctx.sizes
        build = build_pyramid_traced if ctx.tracer.enabled else build_pyramid
        build(ctx, sz.serve_images, image_start(ctx.seed), self.store)
        self.open(sz.stored_candidates, sz.parent_candidates)
        self.requests = self.sequence(np.random.default_rng(ctx.seed), 20_000)
        # serving latency keeps falling for ~15 s after the JVM starts
        # (JIT), so the warm-up is a closed loop of its own
        warm = self.sequence(np.random.default_rng(ctx.seed + 1), 20_000)
        self.closed_loop(warm, sz.serve_warm_s, traced=False)

    def open(self, n_stored: int, n_parents: int) -> None:
        """Keep every stored tile's bytes for the checks, and rank the
        request candidates by density (features per tile)."""
        rows = S.read_tile_store(self.ctx.spark, self.store).select(
            "z", "x", "y", "tile", "n_features"
        ).collect()
        self.tiles = {(r.z, r.x, r.y): bytes(r.tile) for r in rows}
        dense = sorted(rows, key=lambda r: (-r.n_features, r.z, r.x, r.y))
        z_max = max(r.z for r in rows)
        self.stored = [(r.z, r.x, r.y) for r in dense][:n_stored]
        self.parents = [(r.z, r.x, r.y) for r in dense if r.z == z_max][
            :n_parents
        ]

    def sequence(self, rng, n: int) -> list[tuple]:
        sz = self.ctx.sizes
        oz = rng.random(n) < sz.overzoom_share
        si = zipf_pick(rng, len(self.stored), sz.zipf_s, n)
        pi = zipf_pick(rng, len(self.parents), sz.zipf_s, n)
        dz = rng.integers(1, 3, n)
        return [
            ("overzoom", self.parents[p], int(d)) if o
            else ("stored", self.stored[s], 0)
            for o, s, p, d in zip(oz, si, pi, dz)
        ]

    def scan(self, key):
        return S.read_tile_store(self.ctx.spark, self.store).filter(
            tile_filter(*key)
        ).select("z", "x", "y", "tile")

    def stored_request(self, key, traced: bool, rid: int) -> tuple:
        spark, tr = self.ctx.spark, self.ctx.tracer
        if not traced:
            rows = T.decode_tiles_to_features(self.scan(key)).select(
                "feature_id"
            ).collect()
        else:
            with tr.span("tile_serve.stored", request_id=rid):
                with tr.span("sources.store.read_tile_store") as a:
                    got = self.scan(key).collect()
                    a["tiles"] = len(got)
                with tr.span("operators.tiling.decode_tiles_to_features") as a:
                    rows = T.decode_tiles_to_features(
                        spark.createDataFrame(got, TILE_SCHEMA)
                    ).select("feature_id").collect()
            fast = fast_path_fids(self.tiles[key])
            a["features"], a["fast"] = len(rows), len(fast)
            if not set(fast) <= {r.feature_id for r in rows}:
                raise AssertionError("fast_path_fids drifted from the program")
        return 1, tuple(sorted(r.feature_id for r in rows))

    def overzoom_request(self, key, dz: int, traced: bool, rid: int) -> tuple:
        spark, tr = self.ctx.spark, self.ctx.tracer
        if not traced:
            kids = C.overzoom_layers(C.tiles_to_layers(self.scan(key)), dz)
            kids = kids.select("blob").collect()
        else:
            with tr.span("tile_serve.overzoom", request_id=rid):
                with tr.span("sources.store.read_tile_store") as a:
                    got = self.scan(key).collect()
                    a["tiles"] = len(got)
                with tr.span("operators.composite.tiles_to_layers"):
                    layers = C.tiles_to_layers(
                        spark.createDataFrame(got, TILE_SCHEMA)
                    ).collect()
                with tr.span("operators.composite.overzoom_layers") as a:
                    kids = C.overzoom_layers(
                        spark.createDataFrame(layers, T.LAYER_SCHEMA), dz
                    ).select("blob").collect()
                    a["children"] = len(kids)
        fids = {
            int(f["id"])
            for k in kids
            for f in pbf.decode_layer(bytes(k.blob))["features"]
        }
        return len(kids), fids

    def request(self, req, traced: bool, rid: int) -> Op:
        kind, key, dz = req
        if kind == "stored":
            op = timed(
                self.ctx, kind, lambda: self.stored_request(key, traced, rid)
            )
        else:
            op = timed(
                self.ctx, kind,
                lambda: self.overzoom_request(key, dz, traced, rid),
            )
        op.out = (key, op.out)
        return op

    def closed_loop(self, reqs, seconds, traced) -> list[Op]:
        """``clients`` threads; each sends its next request only after
        its previous one returned, taking requests in sequence order,
        until ``seconds`` have passed."""
        ops: list[Op] = []
        nxt = [0]
        lock = threading.Lock()
        end = time.perf_counter() + seconds

        def client():
            while True:
                with lock:
                    i = nxt[0]
                    if time.perf_counter() >= end and i >= self.ctx.sizes.min_ops:
                        return
                    nxt[0] += 1
                op = self.request(reqs[i % len(reqs)], traced, i)
                with lock:
                    ops.append(op)

        threads = [
            threading.Thread(target=client) for _ in range(self.ctx.clients)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return ops

    def run_phase(self, seconds: float, traced: bool) -> tuple[list, float]:
        # each phase continues the seeded sequence where the last stopped
        reqs = self.requests[self._sent:] + self.requests[: self._sent]
        t0 = time.perf_counter()
        ops = self.closed_loop(reqs, seconds, traced)
        self._sent = (self._sent + len(ops)) % len(self.requests)
        return ops, time.perf_counter() - t0

    def check(self, ops: list[Op]) -> None:
        expect: dict = {}
        for op in ops:
            if not op.ok:
                continue
            key, got = op.out
            if key not in expect:
                expect[key] = tile_fids(self.tiles[key])
            if op.kind == "stored":
                bad = got != tuple(expect[key])
            else:
                bad = op.items == 0 or not got <= set(expect[key])
            if bad:
                self.ctx.fail(op, f"{op.kind} response for {key} is wrong")

    def items_per_s(self, ops, window) -> float:
        # responses, not tiles: an overzoom response holds 1-16 children
        return sum(o.ok for o in ops) / window

    def details(self, ops, window) -> dict:
        lat = sorted(o.latency * 1e3 for o in ops)
        st = [o.latency * 1e3 for o in ops if o.kind == "stored"]
        oz = [o.latency * 1e3 for o in ops if o.kind == "overzoom"]
        out = {
            "requests": (len(ops), "count"),
            "serve_p50_ms": (statistics.median(st) if st else 0.0, "ms"),
            "serve_overzoom_p50_ms": (
                statistics.median(oz) if oz else 0.0, "ms"
            ),
            "serve_tiles_per_s": (
                sum(o.items for o in ops if o.ok) / window, "1/s"
            ),
        }
        q = tail_quantile(len(lat))
        if q is not None:
            out[f"serve_p{q:g}_ms"] = (float(np.percentile(lat, q)), "ms")
        return out


def tail_quantile(n: int) -> float | None:
    """The highest of p95/p90/p75 with at least ten samples beyond it."""
    for q in (95.0, 90.0, 75.0):
        if n * (1 - q / 100) >= 10:
            return q
    return None


# --- spatial joins -------------------------------------------------------


def ring_contains(qx, qy, rx, ry) -> np.ndarray:
    """Even-odd ray cast with the half-open crossing rule over an open
    ring, written here apart from functions.pip for the output check."""
    inside = np.zeros(len(qx), dtype=bool)
    for i in range(len(rx)):
        x0, y0, x1, y1 = rx[i - 1], ry[i - 1], rx[i], ry[i]
        crosses = (y1 > qy) != (y0 > qy)
        with np.errstate(divide="ignore", invalid="ignore"):
            xi = (x0 - x1) * (qy - y1) / (y0 - y1) + x1
        inside ^= crosses & (qx < xi)
    return inside


class SpatialJoin:
    name = "spatial_join"

    def __init__(self, ctx: Ctx, start: int | None = None):
        self.ctx = ctx
        self.start = image_start(ctx.seed) if start is None else start

    def setup(self) -> None:
        ctx, sz = self.ctx, self.ctx.sizes
        self.n, self.q = sz.join_points, sz.knn_queries
        self.pdf = seeded_points(self.n, self.start)
        self.points = ctx.spark.createDataFrame(self.pdf).persist()
        self.targets = self.points.select(
            F.col("id").alias("tid"), F.col("mx").alias("tx"),
            F.col("my").alias("ty"),
        ).persist()
        self.rpdf = synth.gen_regions_merc_pdf()
        self.regions = synth.regions_merc_df(ctx.spark).persist()
        for df in (self.points, self.targets, self.regions):
            df.count()
        self.knn_z = J.knn_auto_z(self.n, sz.knn_k)
        self.rng = np.random.default_rng(ctx.seed)
        self.round(self.q, traced=False)  # warm-up: JIT, codegen

    def close(self) -> None:
        for df in (self.points, self.targets, self.regions):
            df.unpersist()

    def round(self, q: int, traced: bool) -> tuple:
        ctx, sz, tr = self.ctx, self.ctx.sizes, self.ctx.tracer
        qids = np.sort(
            self.rng.choice(self.pdf["id"].to_numpy(), q, replace=False)
        )
        queries = ctx.spark.createDataFrame(
            self.pdf[self.pdf["id"].isin(qids)]
        )

        def pip():
            return J.pip_join_broadcast(
                self.points, self.regions, z=PIP_Z
            ).collect()

        def knn():
            return J.knn_join(
                queries, self.targets, k=sz.knn_k, z=self.knn_z,
                radii=(2, 4, 8, 16),
            ).collect()

        if not traced:
            t0 = time.perf_counter()
            pairs = pip()
            t1 = time.perf_counter()
            nbrs = knn()
            t2 = time.perf_counter()
        else:
            with tr.span("spatial_join.round"):
                with tr.span("operators.joins.pip_join_broadcast") as a:
                    t0 = time.perf_counter()
                    pairs = pip()
                    t1 = time.perf_counter()
                with tr.span("operators.joins.knn_join") as b:
                    nbrs = knn()
                    t2 = time.perf_counter()
            a["pairs"], a["candidates"] = len(pairs), self.candidates()
            b["queries"] = q
        return self.n + q, (qids, pairs, nbrs, t1 - t0, t2 - t1)

    def candidates(self) -> int:
        """Cell-prefilter candidates of pip_join_broadcast."""
        pts = J.with_point_cell(self.points, PIP_Z)
        cells = J.cover_region_cells(self.regions, PIP_Z)
        return pts.join(cells, ["ctx", "cty"]).count()

    def run_phase(self, seconds: float, traced: bool) -> tuple[list, float]:
        t0 = time.perf_counter()
        ops = sequential(
            self.ctx, seconds,
            lambda: timed(self.ctx, "join", lambda: self.round(self.q, traced)),
        )
        return ops, time.perf_counter() - t0

    def check(self, ops: list[Op]) -> None:
        """Brute force in numpy on a seeded sample: the PIP pairs of the
        sampled points, and the k nearest targets of sampled queries."""
        ctx, sz = self.ctx, self.ctx.sizes
        rng = np.random.default_rng(ctx.seed + 7)
        ids = self.pdf["id"].to_numpy()
        mx, my = self.pdf["mx"].to_numpy(), self.pdf["my"].to_numpy()
        sample = rng.choice(len(ids), min(sz.check_sample, len(ids)), replace=False)
        want_pip = set()
        for rid, xs, ys, offs in zip(
            self.rpdf["region_id"], self.rpdf["xs"], self.rpdf["ys"],
            self.rpdf["ring_offsets"],
        ):
            xs, ys = np.asarray(xs), np.asarray(ys)
            inside = np.zeros(len(sample), dtype=bool)
            for r in range(len(offs) - 1):
                # rings are stored closed; drop the repeated last vertex
                ring = slice(offs[r], offs[r + 1] - 1)
                inside ^= ring_contains(mx[sample], my[sample], xs[ring], ys[ring])
            want_pip.update((int(ids[s]), int(rid)) for s in sample[inside])
        sample_ids = {int(ids[s]) for s in sample}
        for op in ops:
            if not op.ok:
                continue
            qids, pairs, nbrs, _, _ = op.out
            got_pip = {
                (r.point_id, r.region_id) for r in pairs
                if r.point_id in sample_ids
            }
            by_q: dict[int, list] = {}
            for r in nbrs:
                by_q.setdefault(r.id, []).append((r.rank, r.nbr))
            bad = got_pip != want_pip or len(by_q) != len(qids)
            n_check = min(max(1, sz.check_sample // 2), len(qids))
            for qid in rng.choice(qids, n_check, replace=False):
                k = int(np.searchsorted(ids, qid))
                d2 = (mx - mx[k]) ** 2 + (my - my[k]) ** 2
                order = np.lexsort((ids, d2))[: sz.knn_k]
                want = [(r + 1, int(ids[o])) for r, o in enumerate(order)]
                bad = bad or sorted(by_q.get(int(qid), [])) != want
            if bad:
                ctx.fail(op, "join output differs from the brute-force check")

    def items_per_s(self, ops, window) -> float:
        return median_rate(ops)

    def details(self, ops, window) -> dict:
        good = [o.out for o in ops if o.ok]
        if not good:
            return {}
        return {
            "join_rounds": (len(ops), "count"),
            "pip_pairs_per_s": (
                statistics.median(len(g[1]) / g[3] for g in good), "1/s"
            ),
            "knn_queries_per_s": (
                statistics.median(len(g[0]) / g[4] for g in good), "1/s"
            ),
            "pip_pairs": (len(good[0][1]), "count"),
        }


WORKLOADS = {w.name: w for w in (PyramidBuild, TileServe, SpatialJoin)}


# --- the traced run: fixed kernel batches, session probe, coverage --------


def kernel_metrics(ctx: Ctx) -> dict[str, float]:
    """Kernels timed on fixed in-process batches: Spark only prepares
    the batch, outside the timed region. Median of three repeats."""
    sz = ctx.sizes
    feats = T.images_to_features(
        seeded_images(ctx.spark, sz.kernel_images, image_start(ctx.seed))
    )
    keys = ["z", "x", "y", "salt"]
    pdf = T.with_salt(
        T.assign_tiles(feats, sz.kernel_z, sz.kernel_z, sz.buffer)
    ).toPandas()
    pdf = pdf.sort_values([*keys, "feature_id"], kind="mergesort")
    pdf = pdf.reset_index(drop=True)
    prepare, encode_group, encode_batch = T.make_encode_kernel(
        "features", tm.DEFAULT_EXTENT, sz.buffer
    )

    def encode() -> list:
        # the group loop of operators.grouped.apply_grouped, in-process
        n = len(pdf)
        cols = {c: pdf[c].to_numpy() for c in pdf.columns}
        cols.update(prepare(cols, n))
        keycols = [cols[k] for k in keys]
        starts = group_starts(keycols, n)
        rows, handled = encode_batch(keycols, cols, starts)
        rows = list(rows)
        for i in range(len(starts) - 1):
            if not handled[i]:
                s = int(starts[i])
                sl = slice(s, int(starts[i + 1]))
                rows.extend(
                    encode_group(tuple(c[s] for c in keycols), cols, sl) or ()
                )
        return rows

    def median_of_3(fn):
        ts = []
        for _ in range(3):
            t0 = time.perf_counter()
            out = fn()
            ts.append(time.perf_counter() - t0)
        return statistics.median(ts), out

    enc_s, rows = median_of_3(encode)
    blobs = [r[4] for r in rows]
    tiles = [pbf.concat_tile([b]) for b in blobs]

    def decode():
        for t in tiles:
            for lmsg in pbf.decode_tile(t):
                pbf.decode_layer(lmsg)

    def overzoom():
        for b in blobs:
            C.overzoom_children(b, 1, sz.buffer)

    pts = seeded_points(sz.kernel_points, image_start(ctx.seed))
    qx, qy = pts["mx"].to_numpy(), pts["my"].to_numpy()
    regions = [
        (np.asarray(xs), np.asarray(ys), np.asarray(offs))
        for xs, ys, offs in zip(*(
            synth.gen_regions_merc_pdf()[c]
            for c in ("xs", "ys", "ring_offsets")
        ))
    ]

    def pip():
        for xs, ys, offs in regions:
            pipmod.points_in_polygon(qx, qy, xs, ys, offs)

    dec_s, _ = median_of_3(decode)
    oz_s, _ = median_of_3(overzoom)
    pip_s, _ = median_of_3(pip)
    return {
        "functions.encode_kernel.s": enc_s,
        "functions.pbf.decode.ms_per_tile": 1e3 * dec_s / max(1, len(tiles)),
        "operators.composite.overzoom_children.ms_per_parent": (
            1e3 * oz_s / max(1, len(blobs))
        ),
        "functions.pip.points_in_polygon.s": pip_s,
    }


def trivial_jobs(ctx: Ctx) -> list[float]:
    """Round trips of a one-task job, each in its own span."""
    walls = []
    for _ in range(ctx.sizes.trivial_jobs):
        with ctx.tracer.span("session.trivial_job"):
            t0 = time.perf_counter()
            ctx.spark.range(0, 1, 1, 1).collect()
            walls.append(time.perf_counter() - t0)
    return walls


def cover_missing_layers(ctx: Ctx, wl) -> list[Op]:
    """Small traced operations for the layers this workload's traced
    operations did not call, so that every per-layer metric is measured
    in every traced run. Their figures describe the small coverage
    inputs, not the workload."""
    sz, tr = ctx.sizes, ctx.tracer
    ops: list[Op] = []
    start = image_start(ctx.seed) + 950_000
    store = getattr(wl, "store", None)
    if not tr.named("sources.store.write_tile_store"):
        store = store_dir(ctx, "coverage")
        built = timed(ctx, "build", lambda: build_pyramid_traced(
            ctx, sz.cov_images, start, store, name="coverage.pyramid_build"
        ))
        PyramidBuild(ctx).check([built])
        ops.append(built)
    # a short traced tile_serve half may send no request of one kind
    half = sz.cov_requests // 2
    stored = half * (not tr.named("operators.tiling.decode_tiles_to_features"))
    parents = half * (not tr.named("operators.composite.overzoom_layers"))
    if stored or parents:
        srv = TileServe(ctx, store)
        srv.open(stored, parents)
        reqs = [("stored", k, 0) for k in srv.stored]
        reqs += [("overzoom", k, 1) for k in srv.parents]
        served = [srv.request(r, True, i) for i, r in enumerate(reqs)]
        srv.check(served)
        ops += served
    if not tr.named("operators.joins.pip_join_broadcast"):
        # at the spatial_join workload's own size, after its warm-up
        jn = SpatialJoin(ctx, start)
        jn.setup()
        ops.append(timed(ctx, "join", lambda: jn.round(jn.q, True)))
        jn.check(ops[-1:])
        jn.close()
    return ops
