"""Google Encoded Polyline Algorithm Format ("polyline5") — the
trajectory interchange string used by Google Maps, OSRM, Valhalla and
most routing APIs (public spec: developers.google.com
/maps/documentation/utilities/polylinealgorithm).

Per vertex: delta vs previous vertex (first vertex absolute), zigzag
to non-negative, split into 5-bit chunks little-endian, every chunk
except the last ORed with 0x20, each chunk + 63 → printable ASCII
(63..126).

The ENCODER is pure Column algebra (whole-stage codegen, zero
Python): window-lag deltas, shift/xor zigzag, and a 7-chunk unrolled
CASE per coordinate (7 chunks cover the full signed 32-bit range of
the spec). The per-trajectory string is assembled order-stably with
array_sort over (seq, fragment) structs — collect_list alone is
shuffle-order-unstable and would break run-to-run determinism.

The numpy DECODER below is the round-trip witness used by tests (the
oracle compares encoded strings; decode proves losslessness)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

N_CHUNKS = 7  # ceil(32 bits / 5) — full spec range


def _chunk_chars(v):
    """v: non-negative zigzagged Column (< 2^35). Returns the
    concatenated polyline chunk characters."""
    parts = []
    for k in range(N_CHUNKS):
        five = F.shiftright(v, 5 * k).bitwiseAND(F.lit(31))
        more_after = v >= F.lit(1 << (5 * (k + 1)))
        terminal_here = (
            F.lit(k == 0) | (v >= F.lit(1 << (5 * k)))
        )
        parts.append(
            F.when(more_after, F.char(five.bitwiseOR(F.lit(32)) + F.lit(63)))
            .when(terminal_here, F.char(five + F.lit(63)))
            .otherwise(F.lit(""))
        )
    return F.concat(*parts)


def _zigzag(d):
    return F.shiftleft(d, 1).bitwiseXOR(F.shiftright(d, 63))


def encode_trajectories(traj: DataFrame) -> DataFrame:
    """traj: (tid, seq, lat5, lng5) — integer 1e-5-degree coordinates
    in seq order. Output one row per trajectory:
    (tid, n_pts, poly) with poly the spec polyline string."""
    w = Window.partitionBy("tid").orderBy("seq")
    dlat = F.col("lat5") - F.lag("lat5", 1, 0).over(w)
    dlng = F.col("lng5") - F.lag("lng5", 1, 0).over(w)
    frag = F.concat(_chunk_chars(_zigzag(dlat)), _chunk_chars(_zigzag(dlng)))
    per_row = traj.select("tid", "seq", frag.alias("s"))
    return per_row.groupBy("tid").agg(
        F.count(F.lit(1)).cast("long").alias("n_pts"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("seq"), F.col("s")))
                ),
                lambda x: x["s"],
            ),
            "",
        ).alias("poly"),
    )


def decode_polyline(poly: str) -> list[tuple[int, int]]:
    """Reference decoder (spec algorithm, plain Python ints) — the
    round-trip witness. Returns [(lat5, lng5), ...] absolute coords."""
    out = []
    idx = 0
    lat = lng = 0
    n = len(poly)
    while idx < n:
        for which in (0, 1):
            shift = result = 0
            while True:
                b = ord(poly[idx]) - 63
                idx += 1
                result |= (b & 0x1F) << shift
                shift += 5
                if b < 0x20:
                    break
            d = ~(result >> 1) if result & 1 else result >> 1
            if which == 0:
                lat += d
            else:
                lng += d
        out.append((lat, lng))
    return out
