"""Hand-rolled protobuf wire codec for MVT Tile/Layer/Feature/Value —
SURVEY.md A.5, S5, S6, A1-A4, F14.

Reference parity: proto/vector_tile.proto (message layout, normative)
and src/vector_tile_layer.hpp (dictionary semantics: key/value indices
are FIRST-APPEARANCE order; value distinctness is type-sensitive).
protozero's zero-copy role is played here by numpy-vectorized varint
packing over whole geometry streams.

Wire facts used (protobuf spec, public):
* varint: 7 bits little-endian-esque, MSB = continuation;
* tag = (field_number << 3) | wire_type; wire types: 0 varint,
  1 64-bit, 2 length-delimited, 5 32-bit;
* Tile = repeated Layer field 3 → concatenating serialized layer
  submessages is a valid Tile (the composite fast path).

Layer fields: 1 name, 2 features, 3 keys, 4 values, 5 extent,
15 version. Feature fields: 1 id, 2 tags(packed), 3 type,
4 geometry(packed). Value fields: 1 string, 2 float, 3 double,
4 int, 5 uint, 6 sint, 7 bool.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# --- varint ------------------------------------------------------------------


def varint_bytes_np(values: np.ndarray) -> bytes:
    """Vectorized packed-varint encode of a non-negative int64/uint64
    array (the geometry hot path — no Python loop over vertices)."""
    v = np.asarray(values, dtype=np.uint64)
    if len(v) == 0:
        return b""
    # byte length per value: ceil(bitlen/7), min 1 (values < 2^35 here,
    # but support the full 10-byte range for uint64 ids)
    lengths = np.ones(len(v), dtype=np.int64)
    tmp = v >> np.uint64(7)
    while np.any(tmp):
        lengths += (tmp != 0).astype(np.int64)
        tmp >>= np.uint64(7)
    total = int(lengths.sum())
    out = np.empty(total, dtype=np.uint8)
    pos = np.concatenate(([0], np.cumsum(lengths)[:-1]))
    rem = v.copy()
    offset = np.zeros(len(v), dtype=np.int64)
    active = np.ones(len(v), dtype=bool)
    while np.any(active):
        byte = (rem & np.uint64(0x7F)).astype(np.uint8)
        more = rem >= np.uint64(0x80)
        byte = np.where(more, byte | np.uint8(0x80), byte)
        out[(pos + offset)[active]] = byte[active]
        rem >>= np.uint64(7)
        offset += 1
        active = active & more
    return out.tobytes()


def varint_decode_np(buf: bytes, count: int | None = None) -> tuple[np.ndarray, int]:
    """Decode packed varints from buf; returns (values, bytes_consumed).
    Vectorized: continuation bits locate value boundaries."""
    arr = np.frombuffer(buf, dtype=np.uint8)
    if len(arr) == 0:
        return np.empty(0, dtype=np.uint64), 0
    ends = np.nonzero((arr & 0x80) == 0)[0]
    if count is not None:
        ends = ends[:count]
    starts = np.concatenate(([0], ends[:-1] + 1))
    values = np.zeros(len(ends), dtype=np.uint64)
    # bytes beyond the 10th contribute nothing mod 2^64 (their bits all
    # land >= bit 70); capping the loop both skips that dead work and
    # avoids numpy uint64 shifts >= 64, which are platform-defined and
    # would DIVERGE from the scalar path's documented mod-2^64 wrap
    maxlen = int((ends - starts).max()) + 1 if len(ends) else 0
    for b in range(min(maxlen, 10)):
        idx = starts + b
        valid = idx <= ends
        chunk = np.zeros(len(ends), dtype=np.uint64)
        chunk[valid] = arr[idx[valid]].astype(np.uint64) & np.uint64(0x7F)
        values |= chunk << np.uint64(7 * b)
    consumed = int(ends[-1]) + 1 if len(ends) else 0
    return values, consumed


def _varint1(v: int) -> bytes:
    out = bytearray()
    v = int(v)
    if v < 0:
        # two's-complement 10-byte varint, protobuf semantics — without
        # the mask the >>= loop on a negative Python int never
        # terminates (converges to -1, always truthy)
        v &= 0xFFFFFFFFFFFFFFFF
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


_VARINT_CACHE: list[bytes] = []


def varint_of(v: int) -> bytes:
    """Single-value varint with a small-value cache (0..16383 covers
    every geometry varint of an extent-4096 tile): the pure-Python fast
    path for tiny streams where numpy call overhead dominates."""
    global _VARINT_CACHE
    if not _VARINT_CACHE:
        _VARINT_CACHE = [_varint1(i) for i in range(16384)]
    if 0 <= v < 16384:
        return _VARINT_CACHE[v]
    return _varint1(v)


def varints_py(vals) -> bytes:
    """Concatenated varints, pure Python — faster than varint_bytes_np
    below ~64 values (numpy setup overhead). bytearray accumulation
    with a locally-bound cache: ~2x over b''.join(map(...)) on the
    9-35-varint streams the encode kernel emits (measured)."""
    if not _VARINT_CACHE:
        varint_of(0)  # populate the cache
    out = bytearray()
    c = _VARINT_CACHE
    v1 = _varint1
    for v in vals:
        if 0 <= v < 16384:
            out += c[v]
        else:
            out += v1(v)
    return bytes(out)


# field ≤ 15 ⇒ tag byte < 128 ⇒ one-byte varint; every MVT field is
# ≤ 15 so the hot path is a table lookup, not a varint build
_TAG_CACHE: list[bytes] = [bytes([i]) for i in range(128)]


def _tag(field: int, wire: int) -> bytes:
    t = (field << 3) | wire
    if t < 128:
        return _TAG_CACHE[t]
    return _varint1(t)


def _len_delim(field: int, payload: bytes) -> bytes:
    return _tag(field, 2) + _varint1(len(payload)) + payload


# --- Value variant (F14) -------------------------------------------------------


def encode_value(v) -> bytes:
    """mapnik value -> Tile.Value oneof. Int python ints -> int_value
    (field 4, the upstream choice per SURVEY.md F14 [C-med], pinned by
    our golden decoder); bool -> 7; float -> double field 3; str -> 1."""
    if isinstance(v, (bool, np.bool_)):
        # np.bool_ is NOT a bool/np.integer subclass — without the
        # explicit branch a pandas-sourced boolean would fall through
        # to the string case and change type in the tile
        return _tag(7, 0) + _varint1(1 if v else 0)
    if isinstance(v, (int, np.integer)):
        i = int(v)
        # int_value is a varint of the two's-complement — negative would
        # take 10 bytes; reference emits int_value for int64 regardless
        return _tag(4, 0) + _varint1(i & 0xFFFFFFFFFFFFFFFF)
    if isinstance(v, (float, np.floating)):
        return _tag(3, 1) + struct.pack("<d", float(v))
    if isinstance(v, bytes):
        # MVT Value has NO bytes member; string_value must be UTF-8.
        # Writing raw bytes would produce a tile every conformant
        # decoder (ours included) crashes on — fail at encode instead.
        raise TypeError(
            "MVT attribute values cannot be raw bytes (Tile.Value has "
            "no bytes field); decode or re-encode the payload first"
        )
    s = str(v).encode("utf-8")
    return _tag(1, 2) + _varint1(len(s)) + s


def decode_value(buf: bytes):
    """First KNOWN oneof member wins; unknown/extension fields are
    skipped per the _skip_unknown conformance stance (decoders MUST
    skip, not reject). A Value with no known member — including the
    zero-byte message, which is valid protobuf — raises ValueError
    (P5 validity: 'Value must contain exactly one member'), never
    IndexError."""
    pos = 0
    n = len(buf)
    while pos < n:
        tag, pos = _read_varint(buf, pos)
        field, wire = tag >> 3, tag & 7
        if field == 1 and wire == 2:
            ln, n2 = _read_varint(buf, pos)
            return buf[n2 : n2 + ln].decode("utf-8")
        if field == 2 and wire == 5:
            return struct.unpack_from("<f", buf, pos)[0]
        if field == 3 and wire == 1:
            return struct.unpack_from("<d", buf, pos)[0]
        if (field == 4 or field == 5) and wire == 0:
            v, _ = _read_varint(buf, pos)
            if field == 4 and v >= 1 << 63:
                v -= 1 << 64
            return int(v)
        if field == 6 and wire == 0:
            v, _ = _read_varint(buf, pos)
            return int((v >> 1) ^ -(v & 1))
        if field == 7 and wire == 0:
            v, _ = _read_varint(buf, pos)
            return bool(v)
        pos = _skip_unknown(buf, pos, wire)
    raise ValueError("Value message contains no known member")


def _read_varint(buf, pos: int) -> tuple[int, int]:
    """Bounds-checked scalar varint: truncation and >10-byte runs raise
    ValueError (the documented malformed-stream contract — never
    IndexError or an unbounded int); values wrap mod 2^64 like every
    other decode path."""
    result = 0
    shift = 0
    n = len(buf)
    while True:
        if pos >= n:
            raise ValueError("truncated varint")
        b = buf[pos]
        result |= (b & 0x7F) << shift
        pos += 1
        if not (b & 0x80):
            return result & 0xFFFFFFFFFFFFFFFF, pos
        shift += 7
        if shift > 63:
            raise ValueError("varint longer than 10 bytes")


# --- Feature / Layer / Tile ----------------------------------------------------


def encode_feature(
    feature_id: int | None,
    geom_type: int,
    geometry,
    tags,
    raster: bytes | None = None,
) -> bytes:
    """One bytearray accumulation (every Feature field number is < 16,
    so each tag is a single byte appended directly) — 2.4x over the
    former parts-list + b''.join on the encode kernel's small
    features (measured; byte-identical output, kernel-bench pin)."""
    out = bytearray()
    vo = varint_of
    if feature_id is not None:
        out.append(0x08)  # field 1, varint
        out += vo(int(feature_id))
    if len(tags):
        payload = varints_py([int(t) for t in tags])
        out.append(0x12)  # field 2, len-delim
        out += vo(len(payload))
        out += payload
    out.append(0x18)  # field 3, varint
    out += vo(int(geom_type))
    if len(geometry) >= 64:
        payload = varint_bytes_np(np.asarray(geometry, dtype=np.uint64))
    else:
        payload = varints_py([int(g) for g in geometry])
    out.append(0x22)  # field 4, len-delim
    out += vo(len(payload))
    out += payload
    if raster is not None:
        # upstream proto extension: optional bytes raster = 5 (R2)
        out.append(0x2A)
        out += vo(len(raster))
        out += raster
    return bytes(out)


class LayerBuilder:
    """First-appearance key/value dictionaries (A1/A2) + feature
    accumulation -> one serialized Layer message (A3 partial fold).

    Value identity is type-sensitive: the dict key is
    (type_tag, canonical encoding), so int 1 != double 1.0 and
    -0.0 != 0.0 at bit level — reference `values_` map semantics.
    """

    def __init__(self, name: str, extent: int = 4096, version: int = 2):
        self.name = name
        self.extent = extent
        self.version = version
        self._keys: dict[str, int] = {}
        self._values: dict[bytes, int] = {}
        self._features: list[bytes] = []

    def key_index(self, k: str) -> int:
        idx = self._keys.get(k)
        if idx is None:
            idx = len(self._keys)
            self._keys[k] = idx
        return idx

    def value_index(self, v) -> int:
        enc = encode_value(v)
        idx = self._values.get(enc)
        if idx is None:
            idx = len(self._values)
            self._values[enc] = idx
        return idx

    def add_feature(
        self,
        feature_id: int | None,
        geom_type: int,
        geometry: np.ndarray,
        props: dict | None = None,
        raster: bytes | None = None,
    ) -> None:
        if len(geometry) == 0 and raster is None:
            return  # not painted (P4)
        tags: list[int] = []
        for k, v in (props or {}).items():
            if v is None:
                continue
            tags.append(self.key_index(k))
            tags.append(self.value_index(v))
        self._features.append(
            encode_feature(
                feature_id, geom_type, geometry, tags, raster
            )
        )

    @property
    def painted(self) -> bool:
        return bool(self._features)

    def build(self) -> bytes:
        vo = varint_of
        out = bytearray()
        out.append(0x78)  # field 15, varint
        out += vo(self.version)
        nm = self.name.encode("utf-8")
        out.append(0x0A)  # field 1, len-delim
        out += vo(len(nm))
        out += nm
        for f in self._features:
            out.append(0x12)  # field 2, len-delim
            out += vo(len(f))
            out += f
        for k in self._keys:
            kb = k.encode("utf-8")
            out.append(0x1A)  # field 3, len-delim
            out += vo(len(kb))
            out += kb
        for enc in self._values:
            out.append(0x22)  # field 4, len-delim
            out += vo(len(enc))
            out += enc
        out.append(0x28)  # field 5, varint
        out += vo(self.extent)
        return bytes(out)


def layer_to_tile(layer_msg: bytes) -> bytes:
    """Wrap one serialized Layer as a Tile submessage (field 3)."""
    return _len_delim(3, layer_msg)


def concat_tile(layer_msgs: list[bytes]) -> bytes:
    """Tile = concatenation of field-3 Layer submessages (A.5 — the
    composite/U1 fast path and the A4 final fold)."""
    return b"".join(layer_to_tile(m) for m in layer_msgs)


# --- decode ------------------------------------------------------------------


def _skip_unknown(buf: bytes, pos: int, wire: int) -> int:
    """Skip an unknown field per protobuf wire rules (conformant
    decoders MUST skip, not reject): varint, fixed64=8 bytes,
    length-delimited, fixed32=4. Deprecated group wires (3/4) stay
    errors."""
    if wire == 0:
        _, pos = _read_varint(buf, pos)
        return pos
    if wire == 1:
        return pos + 8
    if wire == 2:
        ln, pos = _read_varint(buf, pos)
        return pos + ln
    if wire == 5:
        return pos + 4
    raise ValueError(f"bad wire type {wire}")


def decode_tile(buf: bytes) -> list[bytes]:
    """Tile bytes -> list of raw Layer messages."""
    layers = []
    pos = 0
    while pos < len(buf):
        tag, pos = _read_varint(buf, pos)
        field, wire = tag >> 3, tag & 7
        if wire == 2:
            ln, pos = _read_varint(buf, pos)
            if field == 3:
                layers.append(buf[pos : pos + ln])
            pos += ln
        elif wire == 0:
            _, pos = _read_varint(buf, pos)
        elif wire == 1:
            pos += 8
        elif wire == 5:
            pos += 4
        else:
            raise ValueError(f"bad wire type {wire}")
    return layers


def decode_layer(buf: bytes) -> dict:
    """Layer message -> dict(name, version, extent, keys, values,
    features=[{id, type, tags, geometry(np.uint64 array)}]).
    The S2 'tile as datasource' decode scan."""
    out = {
        "name": None,
        # proto2 default: `version = 15 [default = 1]` — a layer that
        # OMITS the field reads as v1 (reference decoder parity)
        "version": 1,
        "extent": 4096,
        "keys": [],
        "values": [],
        "features": [],
    }
    pos = 0
    n = len(buf)
    rv = _read_varint
    # same inline single-byte-varint fast path as _decode_feature
    while pos < n:
        tag = buf[pos]
        if tag < 0x80:
            pos += 1
        else:
            tag, pos = rv(buf, pos)
        field, wire = tag >> 3, tag & 7
        if wire == 0:
            if pos < n and buf[pos] < 0x80:
                v = buf[pos]
                pos += 1
            else:
                v, pos = rv(buf, pos)
            if field == 15:
                out["version"] = v
            elif field == 5:
                out["extent"] = v
        elif wire == 2:
            if pos < n and buf[pos] < 0x80:
                ln = buf[pos]
                pos += 1
            else:
                ln, pos = rv(buf, pos)
            payload = buf[pos : pos + ln]
            pos += ln
            if field == 1:
                out["name"] = payload.decode("utf-8")
            elif field == 3:
                out["keys"].append(payload.decode("utf-8"))
            elif field == 4:
                out["values"].append(decode_value(payload))
            elif field == 2:
                out["features"].append(_decode_feature(payload))
        else:
            pos = _skip_unknown(buf, pos, wire)
    return out


def _varints_small(buf: bytes) -> np.ndarray:
    """Packed-varint decode sized for per-feature payloads: below ~64
    bytes a pure-Python byte loop beats varint_decode_np's fixed numpy
    setup cost by ~20x (the decode-scan hot path is millions of 3-to-8
    varint payloads, not a few big ones)."""
    if len(buf) >= 64:
        vals, _ = varint_decode_np(buf)
        return vals
    out = []
    pos = 0
    n = len(buf)
    while pos < n:
        b = buf[pos]
        pos += 1
        if b < 0x80:
            out.append(b)
            continue
        result = b & 0x7F
        shift = 7
        complete = False
        while pos < n:
            b = buf[pos]
            pos += 1
            result |= (b & 0x7F) << shift
            if not (b & 0x80):
                complete = True
                break
            shift += 7
        if complete:
            # wrap mod 2^64 like the numpy path (non-canonical >10-byte
            # varints); a truncated trailing varint is dropped, also
            # matching varint_decode_np's continuation-bit scan
            out.append(result & 0xFFFFFFFFFFFFFFFF)
    return np.array(out, dtype=np.uint64)


def _decode_feature(buf: bytes) -> dict:
    """Hot decode-scan parser. Single-byte varints (every Feature tag —
    field < 16 — and almost every id/type/length of a real tile) are
    read inline; only multi-byte runs fall back to the bounds-checked
    _read_varint, same truncation/wrap contract (a continuation bit on
    the last buffer byte reaches _read_varint at pos == n and raises
    "truncated varint" exactly as before)."""
    f = {"id": None, "type": 0, "tags": np.empty(0, np.uint64), "geometry": np.empty(0, np.uint64)}
    pos = 0
    n = len(buf)
    rv = _read_varint
    while pos < n:
        tag = buf[pos]
        if tag < 0x80:
            pos += 1
        else:
            tag, pos = rv(buf, pos)
        field, wire = tag >> 3, tag & 7
        if wire == 0:
            if pos < n and buf[pos] < 0x80:
                v = buf[pos]
                pos += 1
            else:
                v, pos = rv(buf, pos)
            if field == 1:
                f["id"] = v
            elif field == 3:
                f["type"] = v
        elif wire == 2:
            if pos < n and buf[pos] < 0x80:
                ln = buf[pos]
                pos += 1
            else:
                ln, pos = rv(buf, pos)
            payload = buf[pos : pos + ln]
            pos += ln
            if field == 2:
                f["tags"] = _varints_small(payload)
            elif field == 4:
                f["geometry"] = _varints_small(payload)
            elif field == 5:
                # upstream mapnik-vector-tile proto extension:
                # optional bytes raster = 5 (R2/R3)
                f["raster"] = payload
        else:
            pos = _skip_unknown(buf, pos, wire)
    return f


def split_layer(buf: bytes) -> dict:
    """Shallow layer parse for splice-merging: features keep their RAW
    geometry/raster payload bytes (never decoded), values stay raw
    encoded bytes. ~10x cheaper than decode_layer when only dictionary
    indices must change (the salted-partial merge)."""
    out = {
        "name": None,
        "version": 1,  # proto2 default (see decode_layer)
        "extent": 4096,
        "keys": [],
        "raw_values": [],
        "features": [],  # (fid, gtype, tags list[int], raw_geom, raw_raster)
    }
    pos = 0
    while pos < len(buf):
        tag, pos = _read_varint(buf, pos)
        field, wire = tag >> 3, tag & 7
        if wire == 0:
            v, pos = _read_varint(buf, pos)
            if field == 15:
                out["version"] = v
            elif field == 5:
                out["extent"] = v
        elif wire == 2:
            ln, pos = _read_varint(buf, pos)
            payload = buf[pos : pos + ln]
            pos += ln
            if field == 1:
                out["name"] = payload.decode("utf-8")
            elif field == 3:
                out["keys"].append(payload.decode("utf-8"))
            elif field == 4:
                out["raw_values"].append(payload)
            elif field == 2:
                out["features"].append(_split_feature(payload))
        else:
            pos = _skip_unknown(buf, pos, wire)
    return out


def _split_feature(buf: bytes):
    fid = None
    gtype = 0
    tags: list[int] = []
    raw_geom = b""
    raw_raster = None
    pos = 0
    while pos < len(buf):
        tag, pos = _read_varint(buf, pos)
        field, wire = tag >> 3, tag & 7
        if wire == 0:
            v, pos = _read_varint(buf, pos)
            if field == 1:
                fid = v
            elif field == 3:
                gtype = v
        elif wire == 2:
            ln, pos = _read_varint(buf, pos)
            payload = buf[pos : pos + ln]
            pos += ln
            if field == 2:
                p = 0
                while p < len(payload):
                    t, p = _read_varint(payload, p)
                    tags.append(t)
            elif field == 4:
                raw_geom = payload
            elif field == 5:
                raw_raster = payload
        else:
            pos = _skip_unknown(buf, pos, wire)
    return (fid, gtype, tags, raw_geom, raw_raster)


def _varint_len_np(v: np.ndarray) -> np.ndarray:
    """Byte length of each value's minimal varint, vectorized."""
    out = np.ones(len(v), dtype=np.int64)
    for k in range(7, 64, 7):
        out += (v >= np.uint64(1) << np.uint64(k)).astype(np.int64)
    return out


def _splice_merge_fast(blobs, name: str) -> bytes | None:
    """Vectorized splice merge for the CANONICAL hot-tile shape —
    every feature a single-prop single-point record (fid, one
    (key,value) tag pair, MoveTo geometry = exactly 3 varints, no
    raster), which makes each feature record a FIXED 15-varint
    stride: [0x12 L 0x08 fid 0x12 2 k v 0x18 g 0x22 3 g0 g1 g2].
    The whole features section is then a pure varint stream: one
    boundary scan + strided pattern verification parses 150k
    features in a few numpy passes, and the rebuilt section is
    emitted as ONE varint array — ~10x over the scalar path on the
    z0 salted-merge straggler, byte-identical by construction
    (pinned against the scalar path by tests + the kernel-bench
    out_bytes pin).  Returns None for ANY deviation (multi-vertex,
    0/2+ props, raster, duplicate/None fids, version/extent
    disagreement, pattern break) — the scalar path is the always-
    sound fallback."""
    metas = []  # (version, extent, keys, raw_values)
    fid_parts = []
    key_parts = []  # key STRINGS per feature
    val_parts = []  # raw value BYTES per feature
    gt_parts = []
    geom_parts = []  # (n, 3) uint64 geometry varint values
    for b in blobs:
        # layer-level skim up to the first feature record
        pos = 0
        n = len(b)
        version = 1
        extent = 4096
        lname = None
        feat_start = None
        while pos < n:
            tag, pos2 = _read_varint(b, pos)
            field, wire = tag >> 3, tag & 7
            if wire == 0:
                v, pos2 = _read_varint(b, pos2)
                if field == 15:
                    version = v
                elif field == 5:
                    extent = v
            elif wire == 2:
                ln, pos2 = _read_varint(b, pos2)
                if field == 2:
                    feat_start = pos
                    break
                if field == 1:
                    lname = b[pos2 : pos2 + ln].decode("utf-8")
                elif field in (3, 4):
                    return None  # keys/values before features: odd
                pos2 += ln
            else:
                return None
            pos = pos2
        if feat_start is None or lname is None:
            return None
        vals, consumed = varint_decode_np(b[feat_start:])
        n_rec_max = len(vals) // 15
        if n_rec_max == 0:
            return None
        v15 = vals[: n_rec_max * 15].reshape(n_rec_max, 15)
        okm = (
            (v15[:, 0] == 0x12)
            & (v15[:, 2] == 0x08)
            & (v15[:, 4] == 0x12)
            & (v15[:, 8] == 0x18)
            & (v15[:, 10] == 0x22)
        )
        bad = np.flatnonzero(~okm)
        n_rec = int(bad[0]) if len(bad) else n_rec_max
        if n_rec == 0:
            return None
        v15 = v15[:n_rec]
        # byte-level consistency: L / TL / GL must equal the byte
        # spans the 15-varint-stride hypothesis implies — any record
        # with a different shape (multi-vertex geometry, 0/2+ props,
        # raster) breaks one of these and we fall back
        arr = np.frombuffer(b, dtype=np.uint8, count=min(
            n, feat_start + consumed
        ))[feat_start:]
        ends = np.nonzero((arr & 0x80) == 0)[0]
        if len(ends) < n_rec * 15:
            return None
        ends = ends[: n_rec * 15]
        starts = np.empty(n_rec * 15, dtype=np.int64)
        starts[0] = 0
        starts[1:] = ends[:-1] + 1
        rec_start = starts[::15]
        pay_start = starts[2::15]
        tag_start = starts[6::15]
        tag_end = starts[8::15]
        g_start = starts[12::15]
        rec_end = np.empty(n_rec, dtype=np.int64)
        rec_end[:-1] = rec_start[1:]
        rec_end[-1] = ends[-1] + 1
        if not (
            np.array_equal(
                v15[:, 1], (rec_end - pay_start).astype(np.uint64)
            )
            and np.array_equal(
                v15[:, 5], (tag_end - tag_start).astype(np.uint64)
            )
            and np.array_equal(
                v15[:, 11], (rec_end - g_start).astype(np.uint64)
            )
        ):
            return None
        # minimality check: the fast path RE-ENCODES every varint
        # minimally, while the scalar path splices raw byte spans —
        # an overlong varint in a foreign/rescaled blob would pass
        # the span checks above yet merge to different bytes.  Every
        # varint's actual byte span must equal its minimal length,
        # else fall back to the scalar path (which preserves the
        # source bytes verbatim).
        if not np.array_equal(
            ends - starts + 1, _varint_len_np(v15.ravel())
        ):
            return None
        # after the last record: keys/values/extent section or EOF
        sec_end = feat_start + int(rec_end[-1])
        if sec_end < n and b[sec_end] not in (0x1A, 0x22, 0x28, 0x78):
            return None
        # parse the trailing keys/values/extent sections — inlined
        # tight loop (one dict record per feature makes this section
        # feature-proportional, so _read_varint call overhead counts)
        keys: list[str] = []
        raw_values: list[bytes] = []
        pos = sec_end
        while pos < n:
            t = b[pos]
            if t == 0x1A or t == 0x22:  # key / value record
                ln = b[pos + 1]
                pos2 = pos + 2
                if ln >= 0x80:
                    ln, pos2 = _read_varint(b, pos + 1)
                payload = b[pos2 : pos2 + ln]
                pos = pos2 + ln
                if t == 0x1A:
                    keys.append(payload.decode("utf-8"))
                else:
                    raw_values.append(payload)
                continue
            tag, pos = _read_varint(b, pos)
            field, wire = tag >> 3, tag & 7
            if wire == 0:
                v, pos = _read_varint(b, pos)
                if field == 15:
                    version = v
                elif field == 5:
                    extent = v
            elif wire == 2:
                return None  # features after dicts: non-canonical
            else:
                return None
        ki = v15[:, 6].astype(np.int64)
        vi = v15[:, 7].astype(np.int64)
        if (
            (len(keys) and int(ki.max()) >= len(keys))
            or (len(raw_values) and int(vi.max()) >= len(raw_values))
            or (not len(keys))
            or (not len(raw_values))
        ):
            return None
        metas.append((version, extent))
        fid_parts.append(v15[:, 3])
        karr = np.array(keys, dtype=object)
        varr = np.array(raw_values, dtype=object)
        key_parts.append(karr[ki])
        val_parts.append(varr[vi])
        gt_parts.append(v15[:, 9])
        geom_parts.append(v15[:, 12:15])
    if len({m for m in metas}) > 1:
        raise ValueError(
            f"splice_merge_layers({name!r}): partial blobs disagree "
            f"on (version, extent): {sorted(set(metas))} — rescale "
            "mismatched blobs before merging"
        )
    version, extent = metas[0]
    import pandas as pd

    fids = np.concatenate(fid_parts)
    if len(np.unique(fids)) != len(fids):
        return None  # duplicate fids need the full tuple comparator
    order = np.argsort(fids, kind="stable")
    fids = fids[order]
    keystrs = np.concatenate(key_parts)[order]
    valbytes = np.concatenate(val_parts)[order]
    gts = np.concatenate(gt_parts)[order]
    geoms = np.concatenate(geom_parts)[order]
    # first-appearance dictionaries (pd.factorize preserves order)
    knew, kuniq = pd.factorize(keystrs)
    vnew, vuniq = pd.factorize(valbytes)
    knew = knew.astype(np.uint64)
    vnew = vnew.astype(np.uint64)
    # emit the whole features section as one varint stream
    m = len(fids)
    tl = _varint_len_np(knew) + _varint_len_np(vnew)
    gl = _varint_len_np(geoms[:, 0]) + _varint_len_np(
        geoms[:, 1]
    ) + _varint_len_np(geoms[:, 2])
    big_l = (
        1 + _varint_len_np(fids)            # 0x08 fid
        + 1 + _varint_len_np(tl.astype(np.uint64)) + tl   # 0x12 TL tags
        + 1 + _varint_len_np(gts)           # 0x18 gtype
        + 1 + _varint_len_np(gl.astype(np.uint64)) + gl   # 0x22 GL geom
    )
    stream = np.empty((m, 15), dtype=np.uint64)
    stream[:, 0] = 0x12
    stream[:, 1] = big_l.astype(np.uint64)
    stream[:, 2] = 0x08
    stream[:, 3] = fids
    stream[:, 4] = 0x12
    stream[:, 5] = tl.astype(np.uint64)
    stream[:, 6] = knew
    stream[:, 7] = vnew
    stream[:, 8] = 0x18
    stream[:, 9] = gts
    stream[:, 10] = 0x22
    stream[:, 11] = gl.astype(np.uint64)
    stream[:, 12:15] = geoms
    feat_bytes = varint_bytes_np(stream.ravel())
    nm = name.encode("utf-8")
    parts = [
        _tag(15, 0), varint_of(version),
        _tag(1, 2), varint_of(len(nm)), nm,
        feat_bytes,
    ]
    t3 = _tag(3, 2)
    for k in kuniq:
        kb = str(k).encode("utf-8")
        parts += (t3, varint_of(len(kb)), kb)
    t4 = _tag(4, 2)
    for v in vuniq:
        parts += (t4, varint_of(len(v)), v)
    parts += (_tag(5, 0), varint_of(extent))
    return b"".join(parts)


def build_singles_layers_batch(
    name: str,
    version: int,
    extent: int,
    key_name: str,
    fids: np.ndarray,
    gts: np.ndarray,
    zzx: np.ndarray,
    zzy: np.ndarray,
    val_encs: np.ndarray,
    gidx: np.ndarray,
    n_groups: int,
    emit_tiles: bool = False,
) -> list[bytes | None]:
    """Whole-BATCH assembly of canonical single-point one-prop layers —
    the emit side of _splice_merge_fast applied to the ENCODE hot path:
    every feature of every group in the batch is a fixed 15-varint
    record [0x12 L 0x08 fid 0x12 TL 0 vidx 0x18 gt 0x22 3 9 zzx zzy],
    so the feature sections of ALL groups are ONE varint array
    (varint_bytes_np) sliced per group by byte offsets — no per-feature
    Python, no per-feature dict lookups (callers guarantee one shared
    key, so the key dictionary is the constant [key_name] and only the
    VALUE dictionary needs first-appearance order, computed batch-wide
    with pandas factorize).  Byte-identical to LayerBuilder by
    construction (pinned by tests + the kernel-bench out_bytes pin +
    every engine oracle).

    Inputs are OK-row arrays, group-sorted: ``gidx`` maps each row to
    its group ordinal in 0..n_groups-1; ``val_encs`` holds each row's
    encoded Value message bytes.  Returns one layer (or Tile when
    ``emit_tiles``) blob per group; a group with no rows yields None."""
    import pandas as pd

    m = len(fids)
    out: list[bytes | None] = [None] * n_groups
    if m == 0:
        return out
    # per-row VALUE dictionary index (first-appearance within group):
    # factorize (gid, enc) pairs batch-wide, take each pair's first
    # occurrence, number first occurrences within their group, scatter
    pc, _ = pd.factorize(
        pd.MultiIndex.from_arrays([gidx, val_encs]), sort=False
    )
    first = np.zeros(m, dtype=bool)
    first[np.unique(pc, return_index=True)[1]] = True
    grp_first_rank = np.cumsum(first) - 1  # global rank of first occs
    # within-group rank: subtract the count of firsts before the group
    firsts_per_group = np.zeros(n_groups + 1, dtype=np.int64)
    np.add.at(firsts_per_group, gidx[first] + 1, 1)
    grp_base = np.cumsum(firsts_per_group)[:-1]
    vpos = np.empty(pc.max() + 1, dtype=np.int64)
    vpos[pc[first]] = grp_first_rank[first] - grp_base[gidx[first]]
    vidx = vpos[pc]
    # the 15-varint record matrix
    fids = fids.astype(np.uint64)
    gts = gts.astype(np.uint64)
    zzx = zzx.astype(np.uint64)
    zzy = zzy.astype(np.uint64)
    vidx_u = vidx.astype(np.uint64)
    tl = 1 + _varint_len_np(vidx_u)
    gl = 1 + _varint_len_np(zzx) + _varint_len_np(zzy)
    big_l = (
        1 + _varint_len_np(fids)
        + 1 + _varint_len_np(tl.astype(np.uint64)) + tl
        + 1 + _varint_len_np(gts)
        + 1 + _varint_len_np(gl.astype(np.uint64)) + gl
    )
    stream = np.empty((m, 15), dtype=np.uint64)
    stream[:, 0] = 0x12
    stream[:, 1] = big_l.astype(np.uint64)
    stream[:, 2] = 0x08
    stream[:, 3] = fids
    stream[:, 4] = 0x12
    stream[:, 5] = tl.astype(np.uint64)
    stream[:, 6] = 0
    stream[:, 7] = vidx_u
    stream[:, 8] = 0x18
    stream[:, 9] = gts
    stream[:, 10] = 0x22
    stream[:, 11] = gl.astype(np.uint64)
    stream[:, 12] = 9
    stream[:, 13] = zzx
    stream[:, 14] = zzy
    feat_bytes = varint_bytes_np(stream.ravel())
    # record bytes = tag 0x12 (1) + varint(L) + L-byte payload
    row_len = 1 + _varint_len_np(big_l.astype(np.uint64)) + big_l
    row_end = np.cumsum(row_len)
    grp_counts = np.zeros(n_groups, dtype=np.int64)
    np.add.at(grp_counts, gidx, 1)
    grp_row_end = np.cumsum(grp_counts)
    grp_byte_end = np.where(
        grp_counts > 0, row_end[np.maximum(grp_row_end - 1, 0)], 0
    )
    # group byte start = previous nonempty group's end
    run_end = np.maximum.accumulate(grp_byte_end)
    grp_byte_start = np.concatenate(([0], run_end[:-1]))
    # per-group value sections (first-appearance order = row order of
    # first occurrences); per-group Python is one slice + one join
    vo = varint_of
    nm = name.encode("utf-8")
    head = bytes([0x78]) + vo(version) + bytes([0x0A]) + vo(len(nm)) + nm
    kb = key_name.encode("utf-8")
    keysec = bytes([0x1A]) + vo(len(kb)) + kb
    tail = bytes([0x28]) + vo(extent)
    mv = memoryview(feat_bytes)
    f_rows = np.flatnonzero(first)
    f_group = gidx[f_rows]
    f_bounds = np.searchsorted(f_group, np.arange(n_groups + 1))
    for g in range(n_groups):
        if grp_counts[g] == 0:
            continue
        vparts = []
        for r in f_rows[f_bounds[g]: f_bounds[g + 1]]:
            enc = val_encs[r]
            vparts.append(bytes([0x22]) + vo(len(enc)) + enc)
        layer = b"".join(
            (
                head,
                mv[int(grp_byte_start[g]): int(grp_byte_end[g])],
                keysec,
                *vparts,
                tail,
            )
        )
        if emit_tiles:
            layer = bytes([0x1A]) + vo(len(layer)) + layer
        out[g] = layer
    return out


_TAIL_4096 = bytes([0x28, 0x80, 0x20])  # extent field 5 = 4096


def scan_singles_tile(buf: bytes):
    """Lean O(layers + features) scan of a decompressed Tile blob —
    the DECODE twin of ``build_singles_layers_batch``'s emit layout.

    Returns a list of per-layer descriptors
    ``(name_bytes, key_bytes, feat_start, feat_end, n_features,
    val_start, val_end)`` with byte offsets into ``buf`` when EVERY
    layer matches the canonical singles layout the batch encoder (and
    the splice merger) emit: head ``[0x78 v>=2][0x0A name]``,
    contiguous ``0x12``-framed feature records, exactly ONE key, a
    value section, tail ``[0x28 4096]``. Returns None on ANY deviation
    — the caller must fall back to the general ``decode_layer`` path
    (v1 tiles, multi-key layers, rasters, foreign encoders). The scan
    only SKIPS feature records here (two byte reads each); all value
    parsing and validation is vectorized in ``decode_singles_batch``."""
    n = len(buf)
    p = 0
    out = []
    while p < n:
        if buf[p] != 0x1A:
            return None
        b0 = buf[p + 1] if p + 1 < n else 0x80
        if b0 < 0x80:
            lay_len = b0
            p += 2
        else:
            if p + 3 > n:
                return None
            b1 = buf[p + 2]
            if b1 < 0x80:
                lay_len = (b0 & 0x7F) | (b1 << 7)
                p += 3
            else:
                b2 = buf[p + 3] if p + 3 < n else 0x80
                if b2 >= 0x80:
                    return None
                lay_len = (b0 & 0x7F) | ((b1 & 0x7F) << 7) | (b2 << 14)
                p += 4
        ls, le = p, p + lay_len
        if le > n:
            return None
        p = le
        q = ls
        if le - q < 4 or buf[q] != 0x78:
            return None
        ver = buf[q + 1]
        if ver >= 0x80 or ver < 2:
            return None
        q += 2
        if buf[q] != 0x0A:
            return None
        nlen = buf[q + 1]
        if nlen >= 0x80:
            return None
        q += 2
        name = buf[q:q + nlen]
        q += nlen
        fs = q
        nfeat = 0
        while q < le and buf[q] == 0x12:
            b0 = buf[q + 1] if q + 1 < le else 0x80
            if b0 < 0x80:
                fl = b0
                q += 2
            else:
                b1 = buf[q + 2] if q + 2 < le else 0x80
                if b1 >= 0x80:
                    return None
                fl = (b0 & 0x7F) | (b1 << 7)
                q += 3
            q += fl
            nfeat += 1
        fe = q
        if q > le or nfeat == 0:
            return None
        if q >= le or buf[q] != 0x1A:
            return None
        klen = buf[q + 1] if q + 1 < le else 0x80
        if klen >= 0x80:
            return None
        key = buf[q + 2:q + 2 + klen]
        q += 2 + klen
        if buf[le - 3:le] != _TAIL_4096 or q > le - 3:
            return None
        out.append((name, key, fs, fe, nfeat, q, le - 3))
    return out if out else None


def _invalid_utf8(u8: np.ndarray, start: np.ndarray, length: np.ndarray):
    """Mask of the byte ranges ``u8[start:start + length]`` that are not
    UTF-8: one Arrow validation of all of them, then range by range
    only when that fails (a corrupt tile in the batch)."""
    import pyarrow as pa

    off = np.zeros(len(start) + 1, dtype=np.int64)
    np.cumsum(length, out=off[1:])
    gather = (
        np.arange(int(off[-1]), dtype=np.int64)
        - np.repeat(off[:-1], length)
        + np.repeat(start, length)
    )
    try:
        pa.LargeStringArray.from_buffers(
            len(start), pa.py_buffer(off.tobytes()),
            pa.py_buffer(u8[gather].tobytes()),
        ).validate(full=True)
        return np.zeros(len(start), dtype=bool)
    except pa.ArrowInvalid:
        pass
    bad = np.zeros(len(start), dtype=bool)
    for j, (s, n) in enumerate(zip(start.tolist(), length.tolist())):
        try:
            u8[s:s + n].tobytes().decode("utf-8")
        except UnicodeDecodeError:
            bad[j] = True
    return bad


def decode_singles_batch(descs, blobs, tile_idx, n_tiles=None):
    """Whole-BATCH decode of canonical single-point one-prop layers —
    the inverse of ``build_singles_layers_batch``: the feature sections
    of ALL scanned layers are ONE concatenated buffer whose varints
    decode in one vectorized pass (15 varints per record), and the
    value sections decode by a vectorized frontier scan (one numpy step
    per value ORDINAL, not per value). No per-feature Python.

    Every structural byte is validated against the canonical record
    shape — constants at fixed positions AND every embedded length
    field against the ACTUAL byte span of its payload (no minimal-
    encoding assumption), plus per-layer varint-count/byte-boundary
    alignment — so a false positive would need a byte stream that is
    simultaneously a valid foreign layer and a bit-exact canonical one.

    Fallback is TILE-granular, not batch-granular: a mixed corpus
    (point features sharing batches — or layers — with polygons, v1
    content, multi-prop features) only demotes the offending TILES to
    the caller's general decoder, and so does a layer name, key or
    string value that is not UTF-8; every pure-singles tile in the
    batch keeps the vectorized path.  Returns ``(res, bad)`` where ``bad``
    is a sorted int list of tile indices to decode the slow way and
    ``res`` covers all remaining layers (None when nothing survives).

    ``descs``/``tile_idx``: flat per-layer descriptors from
    ``scan_singles_tile`` and the tile index each came from; ``blobs``:
    per-tile decompressed bytes. ``res`` is a dict of flat
    numpy/arrow columns over surviving features in layer order:
    lay_idx (surviving layer ordinal -> original desc index), nfeat
    (per surviving layer), lay_of_feat, fid, gt, px, py, caption
    (arrow StringArray, null where the layer key is not 'caption'),
    layer_name (object ndarray per surviving layer)."""
    import pyarrow as pa

    nL = len(descs)
    tile_idx = np.asarray(tile_idx, dtype=np.int64)
    if n_tiles is None:
        n_tiles = int(tile_idx.max()) + 1 if nL else 0
    bad_tile = np.zeros(n_tiles, dtype=bool)
    nfeat0 = np.array([d[4] for d in descs], dtype=np.int64)
    # a layer name or key that is not UTF-8 demotes its tile: the
    # general decoder is the one to reject it
    names = []
    for i, d in enumerate(descs):
        try:
            d[1].decode("utf-8")
            names.append(d[0].decode("utf-8"))
        except UnicodeDecodeError:
            names.append(None)
            bad_tile[tile_idx[i]] = True

    # ---- stage A: per-layer varint count + boundary alignment ----
    feat_buf = b"".join(
        memoryview(blobs[tile_idx[i]])[descs[i][2]:descs[i][3]]
        for i in range(nL)
    )
    arr = np.frombuffer(feat_buf, dtype=np.uint8)
    ends = np.nonzero((arr & 0x80) == 0)[0]
    starts = np.empty_like(ends)
    if len(ends):
        starts[0] = 0
        starts[1:] = ends[:-1] + 1
    sec_len = np.array([d[3] - d[2] for d in descs], dtype=np.int64)
    bnd = np.cumsum(sec_len)
    nv_cum = np.searchsorted(ends, bnd, side="left")
    nv_lay = np.diff(np.concatenate(([0], nv_cum)))
    ok_a = nv_lay == 15 * nfeat0
    has = ok_a & (nv_lay > 0)
    last_end = np.full(nL, -1, dtype=np.int64)
    first_start = np.full(nL, -1, dtype=np.int64)
    last_end[has] = ends[nv_cum[has] - 1]
    sv0 = np.concatenate(([0], nv_cum))[:-1]
    first_start[has] = starts[sv0[has]]
    prev_bnd = np.concatenate(([0], bnd[:-1]))
    ok_a &= (last_end == bnd - 1) & (first_start == prev_bnd)
    bad_tile[tile_idx[~ok_a]] = True

    def _alive():
        return np.flatnonzero(~bad_tile[tile_idx] & ok_a)

    keep = _alive()
    if not len(keep):
        return None, sorted(set(tile_idx.tolist()))
    blk_len = 15 * nfeat0[keep]
    blk_off = np.zeros(len(keep) + 1, dtype=np.int64)
    np.cumsum(blk_len, out=blk_off[1:])
    gather = (
        np.arange(int(blk_off[-1]), dtype=np.int64)
        - np.repeat(blk_off[:-1], blk_len)
        + np.repeat(sv0[keep], blk_len)
    )
    nf_k = int(blk_off[-1]) // 15
    # decode only the SURVIVING layers' varints (same >=10-byte wrap
    # contract as varint_decode_np) — a mostly-demoted batch (foreign
    # or polygon-heavy corpus) pays only the scan + counts, not a
    # full-buffer value pass
    Eg = ends[gather]
    Sg = starts[gather]
    values = np.zeros(len(Eg), dtype=np.uint64)
    maxlen = int((Eg - Sg).max()) + 1 if len(Eg) else 0
    for b in range(min(maxlen, 10)):
        idx = Sg + b
        valid = idx <= Eg
        chunk = np.zeros(len(Eg), dtype=np.uint64)
        chunk[valid] = arr[idx[valid]].astype(np.uint64) & np.uint64(0x7F)
        values |= chunk << np.uint64(7 * b)
    V = values.reshape(nf_k, 15)
    E = Eg.reshape(nf_k, 15)
    S = Sg.reshape(nf_k, 15)

    # ---- stage B: per-record structural + length-span checks ----
    ok_rec = (
        (V[:, 0] == 0x12) & (V[:, 2] == 0x08)
        & (V[:, 4] == 0x12) & (V[:, 6] == 0)
        & (V[:, 8] == 0x18) & (V[:, 10] == 0x22)
        & (V[:, 12] == 9) & (V[:, 9] == 1)
        & (V[:, 5] == (E[:, 7] - S[:, 6] + 1).astype(np.uint64))
        & (V[:, 11] == (E[:, 14] - S[:, 12] + 1).astype(np.uint64))
        & (V[:, 1] == (E[:, 14] - S[:, 2] + 1).astype(np.uint64))
    )
    lay_of_rec = np.repeat(keep, nfeat0[keep])
    if not np.all(ok_rec):
        bad_tile[tile_idx[lay_of_rec[~ok_rec]]] = True

    # ---- stage C: value sections of still-alive layers ----
    keep_c = _alive()
    if not len(keep_c):
        return None, sorted(set(tile_idx.tolist()))
    val_buf = b"".join(
        memoryview(blobs[tile_idx[i]])[descs[i][5]:descs[i][6]]
        for i in keep_c
    )
    varr = np.frombuffer(val_buf, dtype=np.uint8)
    vlen_sec = np.array(
        [descs[i][6] - descs[i][5] for i in keep_c], dtype=np.int64
    )
    endp = np.cumsum(vlen_sec)
    cursors = endp - vlen_sec
    nvals = np.zeros(len(keep_c), dtype=np.int64)
    r_lay, r_ps, r_len, r_k = [], [], [], []
    k = 0
    active = np.flatnonzero(cursors < endp)
    nb = len(varr)
    while len(active):
        c = cursors[active]
        die = (c + 1 >= nb) | (varr[np.minimum(c, nb - 1)] != 0x22)
        b0 = varr[np.minimum(c + 1, nb - 1)].astype(np.int64)
        one = b0 < 0x80
        hdr = np.where(one, 2, 3)
        vL = np.where(one, b0, 0)
        multi = ~one & ~die
        if np.any(multi):
            c2 = np.minimum(c + 2, nb - 1)
            b1 = varr[c2].astype(np.int64)
            die |= multi & ((c + 2 >= nb) | (b1 >= 0x80))
            vL = np.where(multi & ~die, (b0 & 0x7F) | (b1 << 7), vL)
        ps = c + hdr
        pe = ps + vL
        die |= pe > endp[active]
        if np.any(die):
            bad_tile[tile_idx[keep_c[active[die]]]] = True
            alive = ~die
            active, c, hdr, vL, ps, pe = (
                active[alive], c[alive], hdr[alive], vL[alive],
                ps[alive], pe[alive],
            )
            if not len(active):
                break
        r_lay.append(active)
        r_ps.append(ps)
        r_len.append(vL)
        r_k.append(np.full(len(active), k, dtype=np.int64))
        nvals[active] += 1
        cursors[active] = pe
        active = active[pe < endp[active]]
        k += 1
    short = (cursors != endp) & ~bad_tile[tile_idx[keep_c]]
    bad_tile[tile_idx[keep_c[short]]] = True

    v_lay = np.concatenate(r_lay) if r_lay else np.empty(0, np.int64)
    v_ps = np.concatenate(r_ps) if r_ps else np.empty(0, np.int64)
    v_L = np.concatenate(r_len) if r_len else np.empty(0, np.int64)
    v_k = np.concatenate(r_k) if r_k else np.empty(0, np.int64)
    # every surviving value must be Value{string_value}: [0x0A slen utf8]
    if len(v_lay):
        sb0 = varr[np.minimum(v_ps + 1, nb - 1)].astype(np.int64)
        sone = sb0 < 0x80
        shdr = np.where(sone, 2, 3)
        slen = np.where(sone, sb0, 0)
        if np.any(~sone):
            sb1 = varr[np.minimum(v_ps[~sone] + 2, nb - 1)].astype(
                np.int64
            )
            bad_ext = sb1 >= 0x80
            slen[~sone] = np.where(
                bad_ext, -1, (sb0[~sone] & 0x7F) | (sb1 << 7)
            )
        vdie = (
            (v_L < 2)
            | (slen < 0)
            | (varr[np.minimum(v_ps, nb - 1)] != 0x0A)
            | (shdr + slen != v_L)
        )
        ok = np.flatnonzero(~vdie)
        vdie[ok] = _invalid_utf8(varr, (v_ps + shdr)[ok], slen[ok])
        if np.any(vdie):
            bad_tile[tile_idx[keep_c[v_lay[vdie]]]] = True
    else:
        shdr = slen = np.empty(0, np.int64)

    # dangling dictionary index (vidx beyond the layer's value count)
    # demotes its tile like any other structural failure — checked
    # BEFORE consolidation so one pass settles the good set
    nvals_by_lay = np.zeros(nL, dtype=np.int64)
    nvals_by_lay[keep_c] = nvals
    vidx_all = V[:, 7].view(np.int64)
    oob = (
        (vidx_all >= nvals_by_lay[lay_of_rec]) | (vidx_all < 0)
    ) & ~bad_tile[tile_idx[lay_of_rec]]
    if np.any(oob):
        bad_tile[tile_idx[lay_of_rec[oob]]] = True

    # ---- final consolidation over still-good tiles ----
    good_c = ~bad_tile[tile_idx[keep_c]]
    if not np.any(good_c):
        return None, sorted(set(tile_idx.tolist()))
    # records: stage-B keep array is aligned to `keep`; re-filter to C
    rec_alive = ~bad_tile[tile_idx[lay_of_rec]]
    Vf = V[rec_alive]
    lay_f = lay_of_rec[rec_alive]
    # surviving layer ordinals (original desc indices, in order)
    surv = keep_c[good_c]
    pos_of = np.full(nL, -1, dtype=np.int64)
    pos_of[surv] = np.arange(len(surv))
    nvals_f = nvals[good_c]
    vbase = np.concatenate(([0], np.cumsum(nvals_f)))
    # values: filter to surviving layers, renumber gid
    vgood = good_c[v_lay]
    v_lay_f = pos_of[keep_c[v_lay[vgood]]]
    v_k_f = v_k[vgood]
    s_start = (v_ps + shdr)[vgood]
    slen_f = slen[vgood]
    nv_tot = len(v_lay_f)
    gid = vbase[v_lay_f] + v_k_f
    order = np.argsort(gid, kind="stable")
    s_start = s_start[order]
    slen_f = slen_f[order]
    out_off = np.zeros(nv_tot + 1, dtype=np.int64)
    np.cumsum(slen_f, out=out_off[1:])
    total = int(out_off[-1])
    if total > 2**31 - 1:
        # StringArray offsets are int32 — a >2 GiB packed value
        # section in ONE Arrow batch would wrap them silently; demote
        # the whole batch to the general decoder instead (unreachable
        # for realistic batch sizes, guarded because the failure mode
        # is corrupt captions, not an error)
        return None, sorted(set(tile_idx.tolist()))
    sgather = (
        np.arange(total, dtype=np.int64)
        - np.repeat(out_off[:-1], slen_f)
        + np.repeat(s_start, slen_f)
    )
    packed = varr[sgather] if total else np.empty(0, np.uint8)
    str_arr = pa.StringArray.from_buffers(
        nv_tot,
        pa.py_buffer(out_off.astype(np.int32).tobytes()),
        pa.py_buffer(packed.tobytes()),
    )

    lay_of_feat = pos_of[lay_f]
    nfeat_f = nfeat0[surv]
    fids = Vf[:, 3].view(np.int64)
    gts = Vf[:, 9].astype(np.int32)
    u = Vf[:, 13]
    px = (
        (u >> np.uint64(1)) ^ (np.uint64(0) - (u & np.uint64(1)))
    ).view(np.int64)
    u = Vf[:, 14]
    py = (
        (u >> np.uint64(1)) ^ (np.uint64(0) - (u & np.uint64(1)))
    ).view(np.int64)
    vidx = Vf[:, 7].view(np.int64)
    cap_gid = vbase[lay_of_feat] + vidx
    is_cap = np.array(
        [descs[i][1] == b"caption" for i in surv], dtype=bool
    )[lay_of_feat]
    cap_idx = pa.array(
        np.where(is_cap, cap_gid, -1), type=pa.int64(), mask=~is_cap
    )
    captions = str_arr.take(cap_idx)
    lay_names = np.array([names[i] for i in surv], dtype=object)
    res = {
        "lay_idx": surv,
        "lay_of_feat": lay_of_feat,
        "nfeat": nfeat_f,
        "fid": fids,
        "gt": gts,
        "px": px,
        "py": py,
        "caption": captions,
        "layer_name": lay_names,
    }
    bad = sorted(set(tile_idx[bad_tile[tile_idx]].tolist()))
    return res, bad


def splice_merge_layers(blobs, name: str) -> bytes:
    """Merge partial layers of one tile WITHOUT touching geometry
    bytes: re-build the key/value dictionaries first-appearance in
    global feature_id order (bit-identical to a single-pass encode —
    the salted/unsalted byte-equality invariant), remap tag indices,
    splice raw feature payloads back together.

    Tiles above ~64 KiB of partials take the vectorized
    _splice_merge_fast path when every record is canonical (the
    salted low-zoom hot-tile straggler this merge used to serialize
    on); anything non-canonical falls back to the scalar path below,
    which is the semantics of record."""
    if sum(len(b) for b in blobs) >= 65536:
        fast = _splice_merge_fast(blobs, name)
        if fast is not None:
            return fast
    version = 2
    extent = 4096
    seen_ve: set[tuple[int, int]] = set()
    feats = []  # (fid, gtype, [(key_str, raw_val)], raw_geom, raw_raster)
    for b in blobs:
        d = split_layer(b)
        # partials of one tile MUST agree on (version, extent): raw
        # feature geometry bytes are spliced unrescaled, so accepting a
        # smaller-extent blob here would silently change that feature's
        # rendered scale. Disagreement means a mixed-config backfill
        # slipped in — reject loudly; callers route such blobs through
        # rescale_layer_blob first (composite's slow path).
        seen_ve.add((d["version"], d["extent"]))
        if len(seen_ve) > 1:
            raise ValueError(
                f"splice_merge_layers({name!r}): partial blobs disagree "
                f"on (version, extent): {sorted(seen_ve)} — rescale "
                "mismatched blobs before merging"
            )
        version, extent = next(iter(seen_ve))
        keys = d["keys"]
        vals = d["raw_values"]
        for fid, gtype, tags, raw_geom, raw_raster in d["features"]:
            props = [
                (keys[tags[i]], vals[tags[i + 1]])
                for i in range(0, len(tags), 2)
            ]
            feats.append((fid, gtype, props, raw_geom, raw_raster))
    # full deterministic order: fid first (the single-pass invariant),
    # then content bytes as tiebreak — duplicate/None fids would
    # otherwise keep shuffle-arrival order and break run-to-run
    # byte-identity of the merged layer
    feats.sort(
        key=lambda f: (
            f[0] is None,
            f[0] if f[0] is not None else 0,
            f[1],
            f[3],
            f[4] or b"",
            f[2],
        )
    )
    return build_layer_merged(name, version, extent, feats)


def build_layer_merged(
    name: str, version: int, extent: int, feats
) -> bytes:
    """Assemble a Layer rebuilding the key/value dictionaries in
    FIRST-APPEARANCE order over ``feats`` = (fid, gtype,
    [(key_str, raw_value_bytes)], raw_geom, raw_raster). Raw Value
    bytes are copied verbatim (no oneof normalization); tag indices
    are re-derived against the merged dictionaries. The builder for
    every path that merges features from MULTIPLE source layers
    (splice_merge_layers, downzoom rollup) — callers fix the feature
    order first, because dictionary order (hence layer bytes) follows
    it."""
    key_map: dict[str, int] = {}
    val_map: dict[bytes, int] = {}
    t2 = _tag(2, 2)
    fparts = []
    for fid, gtype, props, raw_geom, raw_raster in feats:
        tags = []
        for k, v in props:
            ki = key_map.get(k)
            if ki is None:
                ki = len(key_map)
                key_map[k] = ki
            vi = val_map.get(v)
            if vi is None:
                vi = len(val_map)
                val_map[v] = vi
            tags.append(ki)
            tags.append(vi)
        fp = []
        if fid is not None:
            fp += (_tag(1, 0), varint_of(int(fid)))
        if tags:
            tp = varints_py(tags)
            fp += (t2, varint_of(len(tp)), tp)
        fp += (
            _tag(3, 0),
            varint_of(int(gtype)),
            _tag(4, 2),
            varint_of(len(raw_geom)),
            raw_geom,
        )
        if raw_raster is not None:
            fp += (_tag(5, 2), varint_of(len(raw_raster)), raw_raster)
        fb = b"".join(fp)
        fparts += (t2, varint_of(len(fb)), fb)
    nm = name.encode("utf-8")
    parts = [_tag(15, 0), varint_of(version), _tag(1, 2), varint_of(len(nm)), nm]
    parts += fparts
    t3 = _tag(3, 2)
    for k in key_map:
        kb = k.encode("utf-8")
        parts += (t3, varint_of(len(kb)), kb)
    t4 = _tag(4, 2)
    for v in val_map:
        parts += (t4, varint_of(len(v)), v)
    parts += (_tag(5, 0), varint_of(extent))
    return b"".join(parts)


def rebuild_layer_raw(
    name: str,
    version: int,
    extent: int,
    keys: list[str],
    raw_values: list[bytes],
    feats,
) -> bytes:
    """Assemble a Layer whose key/value dictionaries are copied
    VERBATIM (raw Value bytes — no decode/encode round trip, which
    would normalize oneof types: uint_value >= 2^63 re-emitted as
    int_value flips sign, float_value widens to double_value).
    ``feats`` = (fid, gtype, tags, raw_geom, raw_raster) as produced
    by split_layer. Used by the composite extent-rescale slow path,
    where only geometry bytes change."""
    t2 = _tag(2, 2)
    fparts: list[bytes] = []
    for fid, gtype, tags, raw_geom, raw_raster in feats:
        fp: list[bytes] = []
        if fid is not None:
            fp += (_tag(1, 0), varint_of(int(fid)))
        if tags:
            tp = varints_py(int(t) for t in tags)
            fp += (t2, varint_of(len(tp)), tp)
        fp += (
            _tag(3, 0),
            varint_of(int(gtype)),
            _tag(4, 2),
            varint_of(len(raw_geom)),
            raw_geom,
        )
        if raw_raster is not None:
            fp += (_tag(5, 2), varint_of(len(raw_raster)), raw_raster)
        fb = b"".join(fp)
        fparts += (t2, varint_of(len(fb)), fb)
    nm = name.encode("utf-8")
    parts = [_tag(15, 0), varint_of(version), _tag(1, 2), varint_of(len(nm)), nm]
    parts += fparts
    t3 = _tag(3, 2)
    for k in keys:
        kb = k.encode("utf-8")
        parts += (t3, varint_of(len(kb)), kb)
    t4 = _tag(4, 2)
    for v in raw_values:
        parts += (t4, varint_of(len(v)), v)
    parts += (_tag(5, 0), varint_of(extent))
    return b"".join(parts)


def feature_props(layer: dict, feature: dict) -> dict:
    keys, values = layer["keys"], layer["values"]
    t = feature["tags"]
    return {keys[int(t[i])]: values[int(t[i + 1])] for i in range(0, len(t), 2)}


# --- compression (S5) ----------------------------------------------------------


def is_gzip(buf: bytes) -> bool:
    return len(buf) > 2 and buf[0] == 0x1F and buf[1] == 0x8B


def is_zlib(buf: bytes) -> bool:
    """Full RFC-1950 header check (a superset of the reference's
    0x78-only sniff): deflate method, window <= 32K, and the FCHECK
    checksum — recognizes small-window streams (CMF 0x08..0x68) the
    byte-literal sniff would pass through as garbage."""
    return (
        len(buf) > 2
        and (buf[0] & 0x0F) == 8
        and (buf[0] >> 4) <= 7
        and (buf[0] * 256 + buf[1]) % 31 == 0
    )


def maybe_decompress(buf: bytes) -> bytes:
    if is_gzip(buf):
        return zlib.decompress(buf, 16 + zlib.MAX_WBITS)
    if is_zlib(buf):
        return zlib.decompress(buf)
    return buf


def compress(buf: bytes, gzip: bool = False, level: int = 6) -> bytes:
    if gzip:
        co = zlib.compressobj(level, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
        return co.compress(buf) + co.flush()
    return zlib.compress(buf, level)
