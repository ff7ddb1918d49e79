"""Low-overhead grouped execution: repartition + sortWithinPartitions +
mapInPandas with cross-batch group buffering.

Why not groupBy().applyInPandas: Spark invokes the Python worker once
PER GROUP there (a pandas DataFrame construction + schema conversion +
output concat per group). Tile workloads have hundreds of thousands of
tiny groups (one per tile), so per-group overhead (~2-5 ms) dominates
wall-clock by ~100x. This helper keeps the same shuffle (hash
repartition on the group keys) but iterates groups INSIDE an Arrow
batch with numpy boundary detection — per-group cost drops to ~µs:

  * group handlers receive plain numpy column arrays + a slice (no
    per-group pandas object is ever built);
  * handlers return row tuples; ONE output DataFrame is assembled per
    Arrow batch, not per group.

Semantics: rows for one key land in one partition (hash repartition on
the keys) and arrive sorted; batches within a partition are re-stitched
so a group NEVER splits (the trailing, possibly-incomplete group of
each Arrow batch is held back and prepended to the next batch). Group
order within a partition is the sort order — deterministic.

Scale: the repartition is THE shuffle (exactly what groupBy would pay);
the sort is partition-local and spillable; memory high-water is one
Arrow batch + one held-back group, so hot keys salted upstream stay
bounded regardless of table size.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

# handler: (key_tuple, {col: np.ndarray}, slice) -> list[tuple] | None
GroupFn = Callable[[tuple, dict[str, np.ndarray], slice], list[tuple] | None]


def group_starts(cols: list[np.ndarray], n: int) -> np.ndarray:
    """Start offsets of key-change runs over key-sorted columns —
    vectorized, zero per-row Python."""
    if n == 0:
        return np.array([0], dtype=np.int64)
    change = np.zeros(n - 1, dtype=bool)
    for c in cols:
        change |= c[1:] != c[:-1]
    return np.concatenate(([0], np.flatnonzero(change) + 1, [n]))


def apply_grouped(
    df: DataFrame,
    keys: list[str],
    order_by: list[str],
    fn: GroupFn,
    schema: str | StructType,
    out_columns: list[str],
    num_partitions: int | None = None,
    prepare: Callable[[dict[str, np.ndarray], int], dict[str, np.ndarray]]
    | None = None,
    batch_fn: Callable | None = None,
) -> DataFrame:
    """groupBy(keys).apply(fn) semantics at mapInPandas cost.

    ``prepare(cols, n)`` runs ONCE per Arrow batch before the group loop
    and returns derived columns to merge into ``cols`` — the hook for
    whole-batch vectorized kernels (e.g. quantize every point in the
    batch in one numpy pass, then assemble per group).

    ``batch_fn(keycols, cols, starts) -> (rows, handled)`` goes one
    step further: it may emit output rows for WHOLE GROUPS in one
    vectorized pass (marking them in the boolean ``handled`` mask, one
    entry per group); unhandled groups still go through ``fn``.  Batch
    output rows come first, then per-group rows in group order —
    callers are keyed downstream, row order within the Arrow batch is
    not part of the contract.
    """

    def run_groups(pdf: pd.DataFrame) -> list[tuple]:
        n = len(pdf)
        cols = {c: pdf[c].to_numpy() for c in pdf.columns}
        if prepare is not None:
            cols.update(prepare(cols, n))
        keycols = [cols[k] for k in keys]
        starts = group_starts(keycols, n)
        rows: list[tuple] = []
        handled = None
        if batch_fn is not None:
            brows, handled = batch_fn(keycols, cols, starts)
            rows.extend(brows)
        for i in range(len(starts) - 1):
            if handled is not None and handled[i]:
                continue
            s = int(starts[i])
            sl = slice(s, int(starts[i + 1]))
            r = fn(tuple(c[s] for c in keycols), cols, sl)
            if r:
                rows.extend(r)
        return rows

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pending: pd.DataFrame | None = None
        for pdf in batches:
            if pending is not None and len(pending):
                pdf = pd.concat([pending, pdf], ignore_index=True)
                pending = None
            n = len(pdf)
            if n == 0:
                continue
            # vectorized trailing-run detection: hold back the last group
            eq = np.ones(n, dtype=bool)
            for k in keys:
                c = pdf[k].to_numpy()
                eq &= c == c[-1]
            ne = np.flatnonzero(~eq)
            cut = int(ne[-1]) + 1 if len(ne) else 0
            pending = pdf.iloc[cut:]
            rows = run_groups(pdf.iloc[:cut].reset_index(drop=True))
            if rows:
                yield pd.DataFrame(rows, columns=out_columns)
        if pending is not None and len(pending):
            rows = run_groups(pending.reset_index(drop=True))
            if rows:
                yield pd.DataFrame(rows, columns=out_columns)

    if num_partitions is None:
        # explicit N: AQE would coalesce by BYTES, but these stages are
        # Python-CPU-bound with tiny rows (blobs) — byte-based coalescing
        # would serialize them onto 1-2 cores
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "64")
        )
    parts = df.repartition(num_partitions, *keys)
    parts = parts.sortWithinPartitions(*order_by)
    return parts.mapInPandas(run, schema=schema)
