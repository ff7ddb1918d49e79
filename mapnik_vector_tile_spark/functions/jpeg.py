"""Pure-numpy baseline JPEG (ITU-T T.81) encoder/decoder — closes the
R2 codec gap (reference: mapnik ``save_to_string(image, "jpeg")``;
SURVEY §2.8 R2) without any imaging library, which this sandbox lacks.

Scope: baseline sequential DCT, 8-bit, YCbCr 4:4:4 (no chroma
subsampling — simplest layout that keeps PSNR comfortably ≥ 40 dB at
q=90 for the engine's raster tiles) plus 1-component grayscale
streams (1/3 the block work, no color transform), standard Annex K
quantization and Huffman tables. Encoder emits a JFIF stream any
standard decoder reads; decoder handles the streams this encoder
emits plus any baseline 4:4:4 or grayscale stream with one Huffman
table pair per destination.

Performance posture: the DCT/IDCT, quantization, zigzag, and color
transforms are whole-image numpy (matrix form, no per-pixel Python);
only the entropy coding loops per 8×8 block — bounded per tile
(a 256² tile is 1024 blocks) inside the Arrow-batched raster kernels,
the same budget class as the existing png-zlib codec.

JPEG is the engine's documented LOSSY path: round-trip equality is a
PSNR gate (input_hint invariant: decoded-pixel allclose, PSNR ≥ 40 dB
for lossy), not byte equality. Alpha is not representable — encode
drops it, decode returns opaque alpha; callers that need alpha use
png-zlib/raw-rgba8.
"""

from __future__ import annotations

import struct

import numpy as np

# --- constants (ITU-T T.81 Annex K) ----------------------------------------

_QL = np.array([  # K.1 luminance quantization
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99],
], dtype=np.float64)
_QC = np.array([  # K.2 chrominance quantization
    [17, 18, 24, 47, 99, 99, 99, 99],
    [18, 21, 26, 66, 99, 99, 99, 99],
    [24, 26, 56, 99, 99, 99, 99, 99],
    [47, 66, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
], dtype=np.float64)

# K.3 standard Huffman tables: (bits[1..16], values)
_HT_DC_L = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_HT_DC_C = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_HT_AC_L = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_HT_AC_C = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)

_ZZ = np.array([  # zigzag scan order: index into the row-major 8x8
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

_D = np.zeros((8, 8))  # orthonormal DCT-II matrix
for _k in range(8):
    for _n in range(8):
        _D[_k, _n] = np.cos((2 * _n + 1) * _k * np.pi / 16) * (
            np.sqrt(0.125) if _k == 0 else 0.5
        )


def _scaled_q(base: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling of a base table, clamped to [1, 255]."""
    quality = min(100, max(1, int(quality)))
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip(np.floor((base * s + 50) / 100), 1, 255)


# --- bit I/O ----------------------------------------------------------------


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:  # byte stuffing
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            self.write(0x7F, 8 - self.nbits)  # pad with 1s


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read(self, length: int) -> int:
        while self.nbits < length:
            if self.pos >= len(self.data):
                raise ValueError("jpeg: truncated entropy stream")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                # stuffed byte or marker; baseline with no restarts
                if self.pos >= len(self.data):
                    raise ValueError("jpeg: truncated after 0xFF")
                nxt = self.data[self.pos]
                if nxt == 0x00:
                    self.pos += 1
                else:
                    raise ValueError(f"jpeg: unexpected marker FF{nxt:02X}")
            self.acc = (self.acc << 8) | b
            self.nbits += 8
        v = (self.acc >> (self.nbits - length)) & ((1 << length) - 1)
        self.nbits -= length
        self.acc &= (1 << self.nbits) - 1
        return v


def _huff_codes(bits: list[int], values: list[int]) -> dict[int, tuple[int, int]]:
    """value -> (code, length) per T.81 C.2 canonical assignment."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _huff_lut(bits: list[int], values: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> value, for the decoder."""
    lut: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            lut[(length, code)] = values[k]
            code += 1
            k += 1
        code <<= 1
    return lut


def _magnitude(v: int) -> tuple[int, int]:
    """(size, amplitude bits) for a DC diff / AC coefficient."""
    if v == 0:
        return 0, 0
    a = abs(v)
    size = a.bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


def _rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    r = rgb[..., 0].astype(np.float64)
    g = rgb[..., 1].astype(np.float64)
    b = rgb[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y = ycc[..., 0]
    cb = ycc[..., 1] - 128.0
    cr = ycc[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(
        np.stack([r, g, b], axis=-1) + 0.5, 0, 255
    ).astype(np.uint8)


def _to_blocks(chan: np.ndarray) -> np.ndarray:
    """(H, W) -> (n_blocks, 8, 8) row-major block order, edge-padded."""
    h, w = chan.shape
    ph = (-h) % 8
    pw = (-w) % 8
    if ph or pw:
        chan = np.pad(chan, ((0, ph), (0, pw)), mode="edge")
    hh, ww = chan.shape
    return (
        chan.reshape(hh // 8, 8, ww // 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
    )


def _from_blocks(blocks: np.ndarray, h: int, w: int) -> np.ndarray:
    bh = (h + 7) // 8
    bw = (w + 7) // 8
    full = (
        blocks.reshape(bh, bw, 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(bh * 8, bw * 8)
    )
    return full[:h, :w]


def _seg(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload


def encode_jpeg(rgb: np.ndarray, quality: int = 90) -> bytes:
    """uint8[h, w, 3|4] -> color baseline JFIF bytes (alpha dropped);
    uint8[h, w] -> single-component (grayscale) baseline JFIF, 1/3 the
    block work and no color transform."""
    gray = rgb.ndim == 2
    if not gray and (rgb.ndim != 3 or rgb.shape[2] not in (3, 4)):
        raise ValueError("encode_jpeg expects HxW, HxWx3 or HxWx4 uint8")
    h, w = rgb.shape[:2]
    if gray:
        chans = [np.asarray(rgb, dtype=np.float64)]
    else:
        ycc = _rgb_to_ycbcr(rgb[..., :3])
        chans = [ycc[..., c] for c in range(3)]
    ql = _scaled_q(_QL, quality)
    qc = _scaled_q(_QC, quality)
    # vectorized DCT + quantize per component: D B Dᵀ over all blocks
    comp_zz = []
    for c, chan in enumerate(chans):
        blocks = _to_blocks(chan) - 128.0
        coef = np.einsum("ij,njk,lk->nil", _D, blocks, _D)
        q = ql if c == 0 else qc
        qz = np.rint(coef / q).astype(np.int64)
        comp_zz.append(qz.reshape(-1, 64)[:, _ZZ])
    dc_l = _huff_codes(*_HT_DC_L)
    ac_l = _huff_codes(*_HT_AC_L)
    dc_c = _huff_codes(*_HT_DC_C)
    ac_c = _huff_codes(*_HT_AC_C)
    bw_ = _BitWriter()
    n_blocks = comp_zz[0].shape[0]
    prev = [0, 0, 0]
    for bi in range(n_blocks):
        for c in range(len(chans)):
            zz = comp_zz[c][bi]
            dct_, act_ = (dc_l, ac_l) if c == 0 else (dc_c, ac_c)
            size, bits = _magnitude(int(zz[0]) - prev[c])
            prev[c] = int(zz[0])
            code, ln = dct_[size]
            bw_.write(code, ln)
            if size:
                bw_.write(bits, size)
            run = 0
            nz = np.nonzero(zz[1:])[0]
            last = nz[-1] + 1 if len(nz) else 0
            for k in range(1, last + 1):
                v = int(zz[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, ln = act_[0xF0]  # ZRL
                    bw_.write(code, ln)
                    run -= 16
                size, bits = _magnitude(v)
                code, ln = act_[(run << 4) | size]
                bw_.write(code, ln)
                bw_.write(bits, size)
                run = 0
            if last < 63:
                code, ln = act_[0x00]  # EOB
                bw_.write(code, ln)
    bw_.flush()

    def _dqt(tid: int, table: np.ndarray) -> bytes:
        return _seg(
            0xDB, bytes([tid]) + bytes(int(v) for v in table.reshape(64)[_ZZ])
        )

    def _dht(cls: int, tid: int, ht) -> bytes:
        bits, values = ht
        return _seg(0xC4, bytes([(cls << 4) | tid]) + bytes(bits) + bytes(values))

    comp_sof = (
        [1, 0x11, 0] if gray else [1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]
    )
    sof = _seg(
        0xC0,
        bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
        + bytes([len(chans)]) + bytes(comp_sof),
    )
    comp_sos = [1, 0x00] if gray else [1, 0x00, 2, 0x11, 3, 0x11]
    sos = _seg(
        0xDA, bytes([len(chans)]) + bytes(comp_sos) + bytes([0, 63, 0])
    )
    app0 = _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    if gray:
        tables = _dqt(0, ql) + _dht(0, 0, _HT_DC_L) + _dht(1, 0, _HT_AC_L)
    else:
        tables = (
            _dqt(0, ql) + _dqt(1, qc)
            + _dht(0, 0, _HT_DC_L) + _dht(1, 0, _HT_AC_L)
            + _dht(0, 1, _HT_DC_C) + _dht(1, 1, _HT_AC_C)
        )
    return (
        b"\xff\xd8" + app0 + tables
        + sof + sos + bytes(bw_.out) + b"\xff\xd9"
    )


def decode_jpeg(buf: bytes) -> np.ndarray:
    """Baseline 4:4:4 JFIF bytes -> uint8[h, w, 4] (opaque alpha).

    Contract: EVERY malformed input raises ValueError — the error type
    the pipeline's skip-undecodable policy catches — never a raw
    IndexError/KeyError/StopIteration escaping from segment parsing
    (fuzz-pinned by tests/test_raster.py)."""
    try:
        return _decode_jpeg_inner(bytes(buf))
    except ValueError:
        raise
    except (IndexError, KeyError, StopIteration, OverflowError,
            MemoryError, struct.error) as e:
        raise ValueError(f"jpeg: malformed stream ({type(e).__name__})") from e


def _decode_jpeg_inner(buf: bytes) -> np.ndarray:
    if buf[:2] != b"\xff\xd8":
        raise ValueError("jpeg: missing SOI")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    h = w = 0
    comps: list[tuple[int, int, int]] = []  # (id, sampling, qtab)
    scan: list[tuple[int, int, int]] = []  # (comp_idx, dc_tab, ac_tab)
    data = b""
    while pos < len(buf):
        if buf[pos] != 0xFF:
            raise ValueError("jpeg: expected marker")
        marker = buf[pos + 1]
        if marker == 0xD9:
            break
        ln = int.from_bytes(buf[pos + 2 : pos + 4], "big")
        seg = buf[pos + 4 : pos + 2 + ln]
        pos += 2 + ln
        if marker == 0xDB:
            s = 0
            while s < len(seg):
                prec_id = seg[s]
                if prec_id >> 4:
                    raise ValueError("jpeg: 16-bit q-tables unsupported")
                tbl = np.zeros(64)
                tbl[_ZZ] = np.frombuffer(seg[s + 1 : s + 65], dtype=np.uint8)
                qt[prec_id & 0xF] = tbl.reshape(8, 8)
                s += 65
        elif marker == 0xC4:
            s = 0
            while s < len(seg):
                tc_th = seg[s]
                bits = list(seg[s + 1 : s + 17])
                nv = sum(bits)
                values = list(seg[s + 17 : s + 17 + nv])
                huff[(tc_th >> 4, tc_th & 0xF)] = _huff_lut(bits, values)
                s += 17 + nv
        elif marker == 0xC0:
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            nc = seg[5]
            if nc not in (1, 3):
                raise ValueError(
                    "jpeg: only 1- or 3-component streams supported"
                )
            for c in range(nc):
                cid, samp, qid = seg[6 + 3 * c : 9 + 3 * c]
                if samp != 0x11:
                    raise ValueError("jpeg: only 4:4:4 supported")
                comps.append((cid, samp, qid))
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7):
            raise ValueError("jpeg: only baseline sequential supported")
        elif marker == 0xDD:
            raise ValueError("jpeg: restart intervals unsupported")
        elif marker == 0xDA:
            ns = seg[0]
            for c in range(ns):
                cid, tabs = seg[1 + 2 * c], seg[2 + 2 * c]
                idx = next(i for i, cc in enumerate(comps) if cc[0] == cid)
                scan.append((idx, tabs >> 4, tabs & 0xF))
            # entropy data runs to EOI
            end = buf.rfind(b"\xff\xd9")
            data = buf[pos:end if end > pos else len(buf)]
            break
    if not data or not comps:
        raise ValueError("jpeg: no scan data")
    br = _BitReader(data)

    def read_huff(lut) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | br.read(1)
            if (length, code) in lut:
                return lut[(length, code)]
        raise ValueError("jpeg: invalid huffman code")

    def extend(bits: int, size: int) -> int:
        if size == 0:
            return 0
        return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1

    bh = (h + 7) // 8
    bw = (w + 7) // 8
    n_blocks = bh * bw
    coefs = [np.zeros((n_blocks, 64), dtype=np.float64) for _ in comps]
    prev = [0] * len(comps)
    for bi in range(n_blocks):
        for si, (ci, dct_, act_) in enumerate(scan):
            dlut = huff[(0, dct_)]
            alut = huff[(1, act_)]
            size = read_huff(dlut)
            diff = extend(br.read(size), size) if size else 0
            prev[si] += diff
            zz = np.zeros(64, dtype=np.int64)
            zz[0] = prev[si]
            k = 1
            while k < 64:
                rs = read_huff(alut)
                if rs == 0x00:  # EOB
                    break
                if rs == 0xF0:  # ZRL
                    k += 16
                    continue
                k += rs >> 4
                size = rs & 0xF
                if k > 63:
                    raise ValueError("jpeg: AC index overflow")
                zz[k] = extend(br.read(size), size)
                k += 1
            coefs[ci][bi][_ZZ] = zz
    out = np.zeros((h, w, len(comps)), dtype=np.float64)
    for ci, (_, _, qid) in enumerate(comps):
        blocks = coefs[ci].reshape(-1, 8, 8) * qt[qid]
        pix = np.einsum("ji,njk,kl->nil", _D, blocks, _D) + 128.0
        out[..., ci] = _from_blocks(pix, h, w)
    rgba = np.empty((h, w, 4), dtype=np.uint8)
    if len(comps) == 1:
        # grayscale stream: the single component IS the sample value
        # (no color transform in T.81 for 1-component scans)
        gray = np.clip(out[..., 0] + 0.5, 0, 255).astype(np.uint8)
        rgba[..., 0] = rgba[..., 1] = rgba[..., 2] = gray
    else:
        rgba[..., :3] = _ycbcr_to_rgb(out)
    rgba[..., 3] = 255
    return rgba
