"""Hive-partitioned parquet tile store (S6 companion).

The cluster-native layout next to the serving artifacts (MBTiles /
PMTiles / WebDataset): tiles land in ``path/z=<k>/part-*.parquet`` so
every downstream reader gets PARTITION PRUNING on zoom for free
(Catalyst's PartitionFilters — a z=14-only job never opens low-zoom
files), and rows are sorted by (x, y) within files so tile-range
predicates prune at the parquet ROW-GROUP level too (min/max stats) —
the same two-level pruning the decode-scan plan test asserts.

Why repartition("z") before the write: partitionBy alone makes every
task emit one file per zoom it happens to hold (tasks × zooms small
files — the classic small-file problem); repartitioning on z first
gives one writer per zoom, and AQE coalesces skewed zoom sizes.
At 100 TB you'd widen to repartition(n, "z", bucket(x)) — the layout
contract (directory per z, sorted files) is unchanged.
"""

from __future__ import annotations

import glob
import json
import os
import threading
from collections import OrderedDict
from urllib.parse import unquote, urlparse

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import IntegerType, StructType

# Spark writes its row schema into every parquet footer under this key,
# and its own schema inference reads it back from there.
_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def write_tile_store(tiles: DataFrame, path: str) -> None:
    """Write (z, x, y, tile) as a z-partitioned, (x, y)-sorted parquet
    store. Overwrites.

    The sort leads with z: ``partitionBy("z")`` makes Spark's planned
    write require rows ordered by z, and a sort on (x, y) alone does not
    satisfy that, so the writer would re-sort on z only and lose the
    (x, y) order within each file."""
    (
        tiles.repartition("z")
        .sortWithinPartitions("z", "x", "y")
        .write.partitionBy("z")
        .mode("overwrite")
        .parquet(path)
    )


def _data_files(path: str) -> list[str]:
    """The store's local data files, sorted; [] for a missing path or a
    non-file filesystem."""
    url = urlparse(path)
    if url.scheme not in ("", "file"):
        return []
    return sorted(
        glob.glob(
            os.path.join(glob.escape(unquote(url.path)), "z=*", "*.parquet")
        )
    )


def _store_schema(data_file: str) -> StructType | None:
    """The store's schema, read from one data file's footer, with the z
    partition column appended; None when the footer has no Spark row
    schema."""
    meta = pq.read_schema(data_file).metadata
    if not meta or _ROW_METADATA not in meta:
        return None
    row = StructType.fromJson(json.loads(meta[_ROW_METADATA]))
    return row.add("z", IntegerType())


# (session, path) -> (data file stamps, DataFrame), least recently used first
_OPEN: OrderedDict[tuple, tuple[list, DataFrame]] = OrderedDict()
_OPEN_MAX = 8
_OPEN_LOCK = threading.Lock()


def read_tile_store(spark: SparkSession, path: str) -> DataFrame:
    """Read the store back; z returns as a partition column. Filters
    on z become PartitionFilters (directory pruning), filters on x/y
    prune row groups via the sorted min/max stats.

    The schema is Spark's own row schema from one data file's parquet
    footer plus ``z int``, passed in with ``spark.read.schema``: creating
    the DataFrame starts no Spark job. Without a schema, Spark infers one
    in a job of its own on every call. A path with no local data file
    (missing, or on another filesystem) falls back to that inference,
    which raises Spark's own error for a missing path.

    Creating the DataFrame lists the store (~10-20 ms), so each store is
    opened once per session: the DataFrame is reused while every data
    file keeps its name, size and mtime. A rewrite gives new files and
    so a fresh DataFrame."""
    files = _data_files(path)
    if not files:
        return spark.read.parquet(path)
    stamps = []
    for f in files:
        st = os.stat(f)
        stamps.append((f, st.st_size, st.st_mtime_ns))
    key = (spark, path)
    with _OPEN_LOCK:
        hit = _OPEN.get(key)
        if hit is not None and hit[0] == stamps:
            _OPEN.move_to_end(key)
            return hit[1]
    schema = _store_schema(files[0])
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(path)
    with _OPEN_LOCK:
        _OPEN[key] = (stamps, df)
        _OPEN.move_to_end(key)
        if len(_OPEN) > _OPEN_MAX:
            _OPEN.popitem(last=False)
    return df
