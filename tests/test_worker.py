"""The package's task-start gc.freeze() in reused Spark Python workers:
the daemon's collection after each task then walks only that task's
objects, not the worker's import-time heap, and the driver's GC is left
alone."""

import gc
import importlib
import os

import pandas as pd


def test_workers_freeze_their_import_time_heap(spark):
    # a package module referenced by the UDF, as the operators' UDFs
    # reference pbf: unpickling it in the worker imports the package
    from mapnik_vector_tile_spark.functions import pbf

    def probe(batches):
        assert pbf.varint_of(1) == b"\x01"
        for _ in batches:
            yield pd.DataFrame({
                "pid": [os.getpid()],
                "frozen": [gc.get_freeze_count()],
                "unfrozen": [len(gc.get_objects())],
            })

    def run(n_jobs):
        return [
            spark.range(1, numPartitions=1)
            .mapInPandas(probe, "pid long, frozen long, unfrozen long")
            .collect()[0]
            for _ in range(n_jobs)
        ]

    # Spark hands out idle workers round robin, so each comes back. A
    # worker's first probe task imports the package (or, in a worker
    # other tests used, first builds what this UDF needs): the freeze
    # covers that from the worker's next task on.
    visits = {}
    for r in run(40):
        visits.setdefault(r.pid, []).append(r)
    again = {pid: v[1:] for pid, v in visits.items() if len(v) > 1}
    assert again, "no worker was reused"
    for v in again.values():
        assert v[0].frozen > 0, v
        assert all(r.unfrozen < 5_000 for r in v), v
        assert all(r.frozen == v[0].frozen for r in v), v

    later = [r for r in run(20) if r.pid in again]
    assert later, "the workers were not reused"
    assert all(r.frozen == again[r.pid][0].frozen for r in later), later

    before = gc.get_freeze_count()
    importlib.invalidate_caches()
    assert gc.get_freeze_count() == before
