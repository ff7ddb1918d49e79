"""The parquet tile store: its file layout, and read_tile_store opening
each store once while its data files are unchanged."""

import glob
import os

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from mapnik_vector_tile_spark.operators import tiling as T
from mapnik_vector_tile_spark.sources import synth
from mapnik_vector_tile_spark.sources.store import (
    read_tile_store,
    write_tile_store,
)


def _plain_tiles(spark, zooms):
    return spark.createDataFrame(
        pd.DataFrame(
            [(z, x, (7 * x) % (1 << z), b"\x1a\x00")
             for z in zooms for x in range(1 << z)],
            columns=["z", "x", "y", "tile"],
        ),
        "z int, x long, y long, tile binary",
    )


def _ids(df):
    return sorted((r.z, r.x, r.y) for r in df.select("z", "x", "y").collect())


def test_store_files_are_xy_sorted(spark, tmp_path):
    """Every data file of a built pyramid holds its rows in (x, y)
    order, the layout the row-group pruning relies on."""
    feats = T.images_to_features(
        synth.images_df(spark, 200, with_bytes=False, slices=2)
    )
    path = str(tmp_path / "store")
    write_tile_store(T.encode_tiles_from_features(feats, 0, 8), path)
    files = sorted(glob.glob(os.path.join(path, "z=*", "*.parquet")))
    assert len(files) == 9  # one writer per zoom
    for f in files:
        t = pq.read_table(f, columns=["x", "y"])
        xy = list(zip(t["x"].to_pylist(), t["y"].to_pylist()))
        assert len(xy) > 0 and xy == sorted(xy), f


def test_read_tile_store_opens_each_store_once(spark, tmp_path):
    """An unchanged store gives back the same DataFrame; a rewrite of
    the path gives a fresh one with the new tiles, never the old."""
    path = str(tmp_path / "store")
    write_tile_store(_plain_tiles(spark, (2, 3)), path)
    first = read_tile_store(spark, path)
    assert read_tile_store(spark, path) is first
    old = _ids(first)
    assert {z for z, _, _ in old} == {2, 3}

    write_tile_store(_plain_tiles(spark, (4,)), path)
    fresh = read_tile_store(spark, path)
    assert fresh is not first
    new = _ids(fresh)
    assert new == _ids(_plain_tiles(spark, (4,)))
    assert not set(new) & set(old)
    assert read_tile_store(spark, path) is fresh

    with pytest.raises(AnalysisException):
        read_tile_store(spark, str(tmp_path / "missing"))


class _Reader:
    """Stands in for ``spark.read``: a "DataFrame" is the path it read."""

    def schema(self, schema):
        return self

    def parquet(self, path):
        return ("frame", path)


class _Session:
    read = _Reader()


def test_read_tile_store_from_many_threads(tmp_path):
    """Client threads share the open stores: with more threads than
    cores, more stores than the map holds and a tiny switch interval,
    every read returns its own store and the map stays bounded."""
    import sys
    import threading

    import pyarrow as pa

    from mapnik_vector_tile_spark.sources import store as S

    paths = [str(tmp_path / f"s{i}") for i in range(S._OPEN_MAX + 2)]
    for p in paths:
        os.makedirs(os.path.join(p, "z=2"))
        pq.write_table(
            pa.table({"x": [0], "y": [0]}),
            os.path.join(p, "z=2", "part-0.parquet"),
        )
    spark = _Session()
    wrong: list = []

    def client():
        try:
            for _ in range(50):
                for p in paths:
                    if read_tile_store(spark, p) != ("frame", p):
                        wrong.append(p)
        except Exception as e:  # a thread's error would otherwise be lost
            wrong.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=client) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not wrong
    assert len([k for k in S._OPEN if k[0] is spark]) <= S._OPEN_MAX
    assert read_tile_store(spark, paths[-1]) is read_tile_store(spark, paths[-1])
