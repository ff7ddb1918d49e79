"""Real PNG (ISO/IEC 15948) encoder/decoder — pure numpy + stdlib zlib,
upgrading the engine's lossless raster path from the PZ01 stand-in
(sources.synth png-zlib) to files any viewer/browser opens (reference:
mapnik ``save_to_string(image, "png")``; SURVEY §2.8 R2).

Scope: 8-bit, color types 6 (RGBA) and 2 (RGB), non-interlaced, all
five scanline filters. The ENCODER picks a filter per row with the
standard libpng minimum-sum-of-absolute-differences heuristic; every
candidate filter is computed whole-image vectorized (filters read the
RAW previous row/pixel, which equals the reconstructed data because
PNG is lossless — so encoding never needs a sequential pass). The
DECODER unfilters row by row: None/Sub/Up rows vectorize (Sub is a
per-channel cumsum mod 256); Average/Paeth rows carry a true left-
reconstruction dependency, so those loop per pixel within the row —
bounded by tile raster sizes, the same budget class as the JPEG
entropy loop.

Lossless: round-trip is BIT-EXACT (gated by q_raster_png and tests),
unlike the JPEG path's PSNR contract.

Error contract (matches functions.jpeg): every malformed
input raises ValueError — never a raw struct/zlib/Index error.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    body = tag + payload
    return (
        len(payload).to_bytes(4, "big")
        + body
        + (zlib.crc32(body) & 0xFFFFFFFF).to_bytes(4, "big")
    )


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Paeth predictor, vectorized (int16 inputs)."""
    p = a + b - c
    pa = np.abs(p - a)
    pb = np.abs(p - b)
    pc = np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def encode_png(img: np.ndarray, level: int = 6) -> bytes:
    """uint8[h, w, 4|3] -> PNG bytes (color type 6/2), per-row filter
    chosen by the min-SAD heuristic over all five candidates."""
    if img.ndim != 3 or img.shape[2] not in (3, 4):
        raise ValueError("encode_png expects HxWx3 or HxWx4 uint8")
    h, w, ch = img.shape
    raw = np.ascontiguousarray(img).reshape(h, w * ch).astype(np.int16)
    prior = np.zeros_like(raw)
    prior[1:] = raw[:-1]
    left = np.zeros_like(raw)
    left[:, ch:] = raw[:, :-ch]
    upleft = np.zeros_like(raw)
    upleft[1:, ch:] = raw[:-1, :-ch]
    cands = np.empty((5, h, w * ch), dtype=np.uint8)
    cands[0] = raw.astype(np.uint8)
    cands[1] = ((raw - left) % 256).astype(np.uint8)
    cands[2] = ((raw - prior) % 256).astype(np.uint8)
    cands[3] = ((raw - (left + prior) // 2) % 256).astype(np.uint8)
    cands[4] = ((raw - _paeth(left, prior, upleft)) % 256).astype(np.uint8)
    # libpng heuristic: per row, minimize sum of |signed byte| values
    signed = cands.astype(np.int16)
    sad = np.where(signed < 128, signed, 256 - signed).sum(axis=2)
    pick = np.argmin(sad, axis=0)  # ties -> lowest filter id, stable
    stream = np.empty((h, 1 + w * ch), dtype=np.uint8)
    stream[:, 0] = pick.astype(np.uint8)
    stream[:, 1:] = cands[pick, np.arange(h)]
    ihdr = struct.pack(
        ">IIBBBBB", w, h, 8, 6 if ch == 4 else 2, 0, 0, 0
    )
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(stream.tobytes(), level))
        + _chunk(b"IEND", b"")
    )


def decode_png(buf: bytes) -> np.ndarray:
    """PNG bytes -> uint8[h, w, 4] (RGB input gets opaque alpha).

    Contract: EVERY malformed input raises ValueError (fuzz-pinned by
    tests/test_png.py), never a raw zlib/struct/Index error."""
    try:
        return _decode_png_inner(bytes(buf))
    except ValueError:
        raise
    except (IndexError, KeyError, OverflowError, MemoryError,
            struct.error, zlib.error) as e:
        raise ValueError(f"png: malformed stream ({type(e).__name__})") from e


def _decode_png_inner(buf: bytes) -> np.ndarray:
    if buf[:8] != _SIG:
        raise ValueError("png: bad signature")
    pos = 8
    w = h = ch = -1
    idat: list[bytes] = []
    seen_end = False
    while pos + 8 <= len(buf):
        ln = int.from_bytes(buf[pos : pos + 4], "big")
        tag = buf[pos + 4 : pos + 8]
        payload = buf[pos + 8 : pos + 8 + ln]
        if len(payload) != ln or pos + 12 + ln > len(buf):
            raise ValueError("png: truncated chunk")
        crc = int.from_bytes(buf[pos + 8 + ln : pos + 12 + ln], "big")
        if crc != (zlib.crc32(tag + payload) & 0xFFFFFFFF):
            raise ValueError(f"png: bad CRC in {tag!r}")
        pos += 12 + ln
        if tag == b"IHDR":
            if ln != 13:
                raise ValueError("png: bad IHDR length")
            w, h, depth, ctype, comp, filt, ilace = struct.unpack(
                ">IIBBBBB", payload
            )
            if depth != 8 or ctype not in (2, 6):
                raise ValueError(
                    "png: only 8-bit RGB/RGBA supported (ctype 2/6)"
                )
            if comp != 0 or filt != 0 or ilace != 0:
                raise ValueError("png: unsupported compression/interlace")
            ch = 4 if ctype == 6 else 3
        elif tag == b"IDAT":
            idat.append(payload)
        elif tag == b"IEND":
            seen_end = True
            break
    if w < 0 or not idat or not seen_end:
        raise ValueError("png: missing IHDR/IDAT/IEND")
    if w == 0 or h == 0:
        raise ValueError("png: zero dimensions")
    data = zlib.decompress(b"".join(idat))
    stride = 1 + w * ch
    if len(data) != h * stride:
        raise ValueError("png: wrong decompressed size")
    rows = np.frombuffer(data, dtype=np.uint8).reshape(h, stride)
    filters = rows[:, 0]
    if (filters > 4).any():
        raise ValueError("png: unknown filter type")
    out = np.empty((h, w * ch), dtype=np.uint8)
    prev = np.zeros(w * ch, dtype=np.int16)
    for y in range(h):
        f = int(filters[y])
        line = rows[y, 1:].astype(np.int16)
        if f == 0:
            rec = line
        elif f == 1:  # Sub: per-channel cumsum mod 256
            rec = line.reshape(w, ch).cumsum(axis=0).astype(np.int16) % 256
            rec = rec.reshape(-1)
        elif f == 2:  # Up
            rec = (line + prev) % 256
        elif f == 3:  # Average: true left dependency -> per-pixel loop
            rec = np.empty(w * ch, dtype=np.int16)
            for x in range(w * ch):
                left = rec[x - ch] if x >= ch else 0
                rec[x] = (line[x] + (left + prev[x]) // 2) % 256
        else:  # Paeth
            rec = np.empty(w * ch, dtype=np.int16)
            for x in range(w * ch):
                a = rec[x - ch] if x >= ch else 0
                c = prev[x - ch] if x >= ch else 0
                b = prev[x]
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                rec[x] = (line[x] + pred) % 256
        out[y] = rec.astype(np.uint8)
        prev = rec
    img = out.reshape(h, w, ch)
    if ch == 4:
        return img
    rgba = np.empty((h, w, 4), dtype=np.uint8)
    rgba[..., :3] = img
    rgba[..., 3] = 255
    return rgba
