"""The package's stat-guarded zipimporter.invalidate_caches: a zip on
sys.path is re-read only when it changed, and Spark Python workers get
the guard from the package import their UDFs trigger."""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from mapnik_vector_tile_spark import _zipimport

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="Python 3.13 re-reads zips lazily"
)


def _is_guard(fn) -> bool:
    return fn.__module__ == _zipimport.__name__


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    assert _is_guard(zipimport.zipimporter.invalidate_caches)
    _zipimport.install()  # a second import of the package changes nothing
    assert _is_guard(zipimport.zipimporter.invalidate_caches)

    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["zipguard_a"])
    monkeypatch.syspath_prepend(archive)
    for name in ("zipguard_a", "zipguard_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zipguard_a").NAME == "zipguard_a"

    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory",
        lambda path: reads.append(path) or read_directory(path),
    )
    _write_zip(archive, ["zipguard_a", "zipguard_b"])
    importlib.invalidate_caches()
    assert archive in reads
    assert importlib.import_module("zipguard_b").NAME == "zipguard_b"

    n = len(reads)
    importlib.invalidate_caches()
    assert len(reads) == n

    sys.path_importer_cache.pop(archive, None)
    for name in ("zipguard_a", "zipguard_b"):
        sys.modules.pop(name, None)


def test_workers_get_the_guard(spark):
    # a package module referenced by the UDF, as the operators' UDFs
    # reference pbf: unpickling it in the worker imports the package
    from mapnik_vector_tile_spark.functions import pbf

    def probe(batches):
        assert pbf.varint_of(1) == b"\x01"
        guard = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            yield pd.DataFrame({"module": [guard.__module__]})

    rows = (
        spark.range(1, numPartitions=1)
        .mapInPandas(probe, "module string")
        .collect()
    )
    assert [r.module for r in rows] == [_zipimport.__name__]
