#!/usr/bin/env python3
"""Benchmark of the tiling engine: pyramid build, tile serving and
spatial joins.

    python3 perfbench/run.py --workload tile_serve --seed 3 --seconds 15 --trace 0

Run from the root of a checkout. One run starts a fresh Spark JVM on
local[nproc], sets up its workload (counted in setup_s), runs the
workload's operations for --seconds, checks every output, and prints
each metric by name with its unit; the last line of standard output is
one JSON object. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` runs the operations untraced and then traced (spans and
Spark stage metrics around every layer call) and prints the per-layer
metrics, including the tracing overhead. ``--smoke`` runs all three
workloads at tiny size in one process and fails unless every metric
named in BENCHMARK.json is printed with its unit.

Everything the run writes stays under ``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
from dataclasses import replace  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
PACKAGE = "mapnik_vector_tile_spark"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A driver heap that fits the host: a fifth of RAM, 1-4 GiB."""
    with open("/proc/meminfo") as f:
        kib = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    return f"{max(1, min(4, kib // (5 * 1024 * 1024)))}g"


def prepare_environment() -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    the checkout, and size the driver to the host. Runs before pyspark
    is imported."""
    clear_work()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    tempfile.tempdir = tmp
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        SPARK_DRIVER_MEM=driver_memory(),
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
        ),
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    sys.path[:0] = [ROOT, HERE]


def clear_work() -> None:
    """Remove what a run leaves in .bench_work/, except the span files
    in trace/, which stay until a later traced run of the same workload
    and seed overwrites them."""
    for sub in ("stores", "spark-local", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)


# --- process tree ---------------------------------------------------------


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class PeakRss(threading.Thread):
    """Samples the summed resident memory of this process and all its
    descendants (JVM, Python workers) every 100 ms."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._halt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._halt.is_set():
            total = rss_bytes(me) + sum(map(rss_bytes, descendants(me)))
            self.peak = max(self.peak, total)
            self._halt.wait(0.1)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak / 2**20


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, then wait until every
    process this run started has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while descendants(os.getpid()):
        if time.monotonic() > deadline:
            for p in descendants(os.getpid()):
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
        time.sleep(0.2)


# --- metrics --------------------------------------------------------------


def op_p50_ms(ops) -> float:
    # a failed operation counts as missing every latency limit
    return 1e3 * statistics.median(o.latency if o.ok else math.inf for o in ops)


def layer_metrics(tr, trivial_walls, kernels, overhead) -> dict:
    """Per-layer metrics from the traced run's spans and the Spark stage
    metrics of each span's jobs."""

    def spans(name):
        return tr.named(name)

    def med(vals):
        vals = list(vals)
        return statistics.median(vals) if vals else 0.0

    def dur(name, scale=1.0):
        return scale * med(s["end"] - s["start"] for s in spans(name))

    def total(name, key, stage=False):
        src = (lambda s: s["stage"]) if stage else (lambda s: s["attrs"])
        return sum(src(s).get(key, 0) for s in spans(name))

    def per_span(name, key, scale=1.0):
        return scale * med(tr.subtree_stage(s)[key] for s in spans(name))

    def ratio(a, b):
        return a / b if b else 0.0

    st = "sources.store."
    ti = "operators.tiling."
    co = "operators.composite."
    jo = "operators.joins."
    enc = ti + "encode_layer_partials"
    delays = [
        d for s in spans("session.trivial_job")
        for d in tr.task_scheduler_delays_ms(s["group"])
    ]
    m = {
        "session.job_overhead_ms": 1e3 * med(trivial_walls),
        # Spark reports whole milliseconds per task: a mean keeps digits
        "session.scheduler_delay_ms": (
            statistics.fmean(delays) if delays else 0.0
        ),
        st + "write_tile_store.s": dur(st + "write_tile_store"),
        st + "write_tile_store.bytes_per_tile": ratio(
            total(st + "write_tile_store", "bytes"),
            total(st + "write_tile_store", "tiles"),
        ),
        st + "read_tile_store.scan_ms": dur(st + "read_tile_store", 1e3),
        st + "read_tile_store.rows_per_tile": ratio(
            total(st + "read_tile_store", "input_records", stage=True),
            total(st + "read_tile_store", "tiles"),
        ),
        ti + "images_to_features.s": dur(ti + "images_to_features"),
        ti + "assign_tiles.s": dur(ti + "assign_tiles"),
        ti + "assign_tiles.fanout": ratio(
            total(ti + "assign_tiles", "rows"),
            total(ti + "assign_tiles", "rows_in"),
        ),
        enc + ".s": dur(enc),
        enc + ".busy_s": per_span(enc, "busy_ms", 1e-3),
        enc + ".shuffle_write_bytes": per_span(enc, "shuffle_write_bytes"),
        enc + ".spill_bytes": per_span(enc, "spill_bytes"),
        enc + ".groups": med(s["attrs"]["groups"] for s in spans(enc)),
        ti + "fold_tiles_from_partials.s": dur(ti + "fold_tiles_from_partials"),
        ti + "fold_tiles_from_partials.partials_per_tile": ratio(
            total(ti + "fold_tiles_from_partials", "partials"),
            total(ti + "fold_tiles_from_partials", "tiles"),
        ),
        ti + "decode_tiles_to_features.ms": dur(
            ti + "decode_tiles_to_features", 1e3
        ),
        ti + "decode_tiles_to_features.fast_path_share": ratio(
            total(ti + "decode_tiles_to_features", "fast"),
            total(ti + "decode_tiles_to_features", "features"),
        ),
        co + "tiles_to_layers.ms": dur(co + "tiles_to_layers", 1e3),
        co + "overzoom_layers.ms": dur(co + "overzoom_layers", 1e3),
        co + "overzoom_layers.children_per_request": ratio(
            total(co + "overzoom_layers", "children"),
            len(spans(co + "overzoom_layers")),
        ),
        jo + "pip_join_broadcast.s": dur(jo + "pip_join_broadcast"),
        jo + "pip_join_broadcast.candidates": med(
            s["attrs"]["candidates"] for s in spans(jo + "pip_join_broadcast")
        ),
        jo + "pip_join_broadcast.precision": ratio(
            total(jo + "pip_join_broadcast", "pairs"),
            total(jo + "pip_join_broadcast", "candidates"),
        ),
        jo + "knn_join.s": dur(jo + "knn_join"),
        jo + "knn_join.busy_s": per_span(jo + "knn_join", "busy_ms", 1e-3),
        "spark.gc_s": 1e-3 * sum(s["stage"]["gc_ms"] for s in tr.spans),
        "spark.failed_tasks": sum(
            s["stage"]["failed_tasks"] for s in tr.spans
        ),
    }
    m.update(kernels)
    m.update(overhead)
    return m


# --- one run --------------------------------------------------------------

E2E_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "items_per_s": "1/s",
    "op_p50_ms": "ms",
}
LAYER_UNITS = {
    "session.job_overhead_ms": "ms",
    "session.scheduler_delay_ms": "ms",
    "sources.store.write_tile_store.s": "s",
    "sources.store.write_tile_store.bytes_per_tile": "bytes",
    "sources.store.read_tile_store.scan_ms": "ms",
    "sources.store.read_tile_store.rows_per_tile": "rows/tile",
    "operators.tiling.images_to_features.s": "s",
    "operators.tiling.assign_tiles.s": "s",
    "operators.tiling.assign_tiles.fanout": "rows/feature",
    "operators.tiling.encode_layer_partials.s": "s",
    "operators.tiling.encode_layer_partials.busy_s": "s",
    "operators.tiling.encode_layer_partials.shuffle_write_bytes": "bytes",
    "operators.tiling.encode_layer_partials.spill_bytes": "bytes",
    "operators.tiling.encode_layer_partials.groups": "count",
    "operators.tiling.fold_tiles_from_partials.s": "s",
    "operators.tiling.fold_tiles_from_partials.partials_per_tile": "ratio",
    "operators.tiling.decode_tiles_to_features.ms": "ms",
    "operators.tiling.decode_tiles_to_features.fast_path_share": "ratio",
    "operators.composite.tiles_to_layers.ms": "ms",
    "operators.composite.overzoom_layers.ms": "ms",
    "operators.composite.overzoom_layers.children_per_request": "count",
    "operators.joins.pip_join_broadcast.s": "s",
    "operators.joins.pip_join_broadcast.candidates": "count",
    "operators.joins.pip_join_broadcast.precision": "ratio",
    "operators.joins.knn_join.s": "s",
    "operators.joins.knn_join.busy_s": "s",
    "functions.encode_kernel.s": "s",
    "functions.pbf.decode.ms_per_tile": "ms",
    "operators.composite.overzoom_children.ms_per_parent": "ms",
    "functions.pip.points_in_polygon.s": "s",
    "spark.gc_s": "s",
    "spark.failed_tasks": "count",
    "trace.overhead.op_p50_ms": "ms",
    "trace.overhead.items_per_s": "1/s",
}


def run_workload(spark, name, seed, seconds, trace, sizes, clients) -> dict:
    """Set up, run and check one workload. With ``trace`` the run is
    split into an untraced and a traced half, followed by the coverage
    pass, the trivial-job probe and the kernel batches."""
    import workloads as W
    from tracing import Tracer

    if trace:  # the two halves share the time: one operation each
        sizes = replace(sizes, min_ops=1)
    tr = Tracer(spark.sparkContext, enabled=trace)
    ctx = W.Ctx(spark, tr, seed, sizes, WORK, clients)
    wl = W.WORKLOADS[name](ctx)
    wl.setup()
    setup_s = time.perf_counter() - T0
    ops, window = wl.run_phase(seconds / 2 if trace else seconds, traced=False)
    tops, extra = [], []
    if trace:
        tops, twindow = wl.run_phase(seconds / 2, traced=True)
        extra = W.cover_missing_layers(ctx, wl)
        walls = W.trivial_jobs(ctx)
        kernels = W.kernel_metrics(ctx)
    wl.check(ops + tops)
    res = {
        "setup_s": setup_s,
        "ops": ops + tops + extra,
        "e2e": {
            "items_per_s": wl.items_per_s(ops, window),
            "op_p50_ms": op_p50_ms(ops),
        },
        "details": wl.details(ops, window),
        "failures": ctx.failures,
    }
    if trace:
        overhead = {
            "trace.overhead.op_p50_ms": op_p50_ms(tops) - res["e2e"]["op_p50_ms"],
            "trace.overhead.items_per_s": (
                wl.items_per_s(tops, twindow) - res["e2e"]["items_per_s"]
            ),
        }
        tr.attach_stage_metrics()
        res["layers"] = layer_metrics(tr, walls, kernels, overhead)
        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        tr.write(os.path.join(WORK, "trace", f"{name}-seed{seed}.json"))
    return res


def report(res: dict, trace: bool, peak_rss_mb: float) -> list[str]:
    """Print every metric by name with its unit, then the result line.
    Returns the printed lines."""
    ops = res["ops"]
    failed = sum(not o.ok for o in ops)
    if trace:
        metrics = {k: (res["layers"][k], u) for k, u in LAYER_UNITS.items()}
    else:
        vals = dict(res["e2e"], setup_s=res["setup_s"], peak_rss_mb=peak_rss_mb)
        metrics = {k: (vals[k], u) for k, u in E2E_UNITS.items()}
    lines = [f"{k:<60} {v:>16.4f} {u}" for k, (v, u) in metrics.items()]
    lines += [
        f"  detail {k:<51} {v:>16.4f} {u}" for k, (v, u) in res["details"].items()
    ]
    lines.append(
        f"  detail {'error_rate':<51} {failed / max(1, len(ops)):>16.4f} "
        f"failed/attempted ({failed}/{len(ops)})"
    )
    lines += [f"  FAILED {why}" for why in res["failures"]]
    lines.append(json.dumps({
        "correct": failed == 0 and not res["failures"],
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    for ln in lines:
        print(ln, flush=True)
    return lines


def smoke(spark, clients: int) -> int:
    """Every workload at tiny size, traced (its untraced half gives the
    end-to-end metrics): every metric of BENCHMARK.json must be printed
    with its unit, and every output check must pass."""
    import workloads as W

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {
        False: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        True: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    errors = []
    for name in W.WORKLOADS:
        res = run_workload(spark, name, 1, 2.0, True, W.SMOKE, clients)
        for trace in (False, True):
            lines = report(res, trace, 1.0)
            printed = json.loads(lines[-1])
            if not printed["correct"]:
                errors.append(f"{name}: output checks failed")
            for metric, unit in want[trace].items():
                shown = printed["metrics"].get(metric, {}).get("unit")
                named = any(
                    ln.split()[:1] == [metric] and ln.split()[-1] == unit
                    for ln in lines
                )
                if shown != unit or not named:
                    errors.append(f"{name}: {metric} [{unit}] not printed")
            extra = set(printed["metrics"]) - set(want[trace])
            errors += [f"{name}: {m} not in BENCHMARK.json" for m in extra]
    for e in errors:
        print("SMOKE FAILED:", e, file=sys.stderr)
    return 1 if errors else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("pyramid_build", "tile_serve", "spatial_join"))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package beside perfbench/ in {ROOT}",
              file=sys.stderr)
        return 2
    if not args.smoke and args.workload is None:
        ap.error("--workload is required")

    prepare_environment()
    rss = PeakRss()
    rss.start()
    import workloads
    from mapnik_vector_tile_spark.session import get_spark

    clients = max(1, nproc() // 2)  # below saturation: see README
    spark = get_spark(
        "perfbench",
        cores=nproc(),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        },
    )
    try:
        if args.smoke:
            return smoke(spark, clients)
        res = run_workload(
            spark, args.workload, args.seed, args.seconds, bool(args.trace),
            workloads.Sizes(), clients,
        )
        peak = rss.stop()
    finally:
        stop_spark(spark)
        clear_work()
    report(res, bool(args.trace), peak)
    return 0


if __name__ == "__main__":
    sys.exit(main())
