"""Real WebP-lossless (VP8L) encoder/decoder — pure numpy + stdlib,
closing the final R2 raster-codec stub (reference: mapnik
``save_to_string(image, "webp")``; SURVEY §2.8 R2). The bitstream
follows the public VP8L specification (RFC 9649 / the libwebp
lossless format doc): RIFF/WEBP/VP8L container, LSB-first bit packing,
canonical length-limited prefix codes transmitted via the 19-symbol
code-length code.

Encoder scope (always emits a spec-legal stream): no transforms, no
color cache, no LZ77 backward references — each pixel is four prefix-
coded literals (green, red, blue, alpha), one Huffman code per
channel over the whole image. That is order-0 entropy coding: real
compression on skewed channels, readable by ANY standard WebP
decoder. Decoder scope: everything the encoder emits PLUS LZ77
backward references and the color cache (the common features of
foreign lossless streams); meta prefix images and transforms raise
ValueError (documented narrowing — they change pixel meaning, and
silently misdecoding would be worse than refusing).

Lossless: round-trip is BIT-EXACT (q_raster_webp contract oracle).

Error contract (matches functions.{jpeg,png}): every malformed
input raises ValueError, never a raw Index/struct error.
"""

from __future__ import annotations

import heapq

import numpy as np

# code-length-code symbol transmission order (VP8L spec §...; same
# role as DEFLATE's order, different permutation)
_CLC_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13,
              14, 15]
_MAX_LEN = 15


# --- bit I/O (LSB-first, per the VP8L spec) ---------------------------------


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.bit = 0
        self.acc = 0

    def write(self, value: int, nbits: int) -> None:
        """nbits of value, LSB first."""
        self.acc |= (value & ((1 << nbits) - 1)) << self.bit
        self.bit += nbits
        while self.bit >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.bit -= 8

    def flush(self) -> None:
        if self.bit:
            self.out.append(self.acc & 0xFF)
            self.acc = 0
            self.bit = 0


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0  # bit position

    def read(self, nbits: int) -> int:
        out = 0
        for k in range(nbits):
            byte = self.pos >> 3
            if byte >= len(self.data):
                raise ValueError("vp8l: bitstream exhausted")
            out |= ((self.data[byte] >> (self.pos & 7)) & 1) << k
            self.pos += 1
        return out


# --- canonical length-limited prefix codes ----------------------------------


def _huff_lengths(counts: np.ndarray, max_len: int = _MAX_LEN) -> np.ndarray:
    """Code length per symbol (0 = unused), canonical, length-limited.

    Standard Huffman via a heap, then a Kraft-sum fixup if any length
    exceeds max_len (the classic clamp-and-repair used by zlib)."""
    n = len(counts)
    used = np.nonzero(counts)[0]
    lengths = np.zeros(n, dtype=np.int64)
    if len(used) == 0:
        return lengths
    if len(used) == 1:
        lengths[used[0]] = 1
        return lengths
    heap: list[tuple[int, int, list[int]]] = [
        (int(counts[s]), int(s), [int(s)]) for s in used
    ]
    heapq.heapify(heap)
    tick = n
    while len(heap) > 1:
        c1, _, s1 = heapq.heappop(heap)
        c2, _, s2 = heapq.heappop(heap)
        for s in s1 + s2:
            lengths[s] += 1
        heapq.heappush(heap, (c1 + c2, tick, s1 + s2))
        tick += 1
    if lengths.max() > max_len:
        # clamp + Kraft repair: shorten deepest overfull leaves' debt
        # by lengthening the shallowest ones
        lengths = np.minimum(lengths, max_len)
        kraft = float((0.5 ** lengths[used]).sum())
        order = sorted(used, key=lambda s: lengths[s])
        i = 0
        while kraft > 1.0 + 1e-12:
            s = order[i % len(order)]
            if lengths[s] < max_len:
                kraft -= 0.5 ** lengths[s]
                lengths[s] += 1
                kraft += 0.5 ** lengths[s]
            i += 1
    return lengths


def _canonical_codes(lengths: np.ndarray) -> dict[int, tuple[int, int]]:
    """symbol -> (code, nbits): canonical assignment — shorter codes
    first, ties by symbol order; code bits are written/read MSB-first
    within the code (libwebp convention)."""
    syms = [
        (int(ln), s) for s, ln in enumerate(lengths) if ln > 0
    ]
    syms.sort()
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    prev_len = 0
    for ln, s in syms:
        code <<= ln - prev_len
        codes[s] = (code, ln)
        code += 1
        prev_len = ln
    return codes


class _HuffDecoder:
    """Bit-at-a-time canonical decoder (code built MSB-first)."""

    def __init__(self, lengths: np.ndarray) -> None:
        self.lut = {
            (ln, code): s
            for s, (code, ln) in _canonical_codes(lengths).items()
        }
        used = np.nonzero(lengths)[0]
        self.single = int(used[0]) if len(used) == 1 else None
        if not len(used):
            raise ValueError("vp8l: empty prefix code")

    def read(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        code = 0
        for ln in range(1, _MAX_LEN + 1):
            code = (code << 1) | br.read(1)
            if (ln, code) in self.lut:
                return self.lut[(ln, code)]
        raise ValueError("vp8l: invalid prefix code")


def _write_code(bw: _BitWriter, code: int, ln: int) -> None:
    """Prefix-code bits are MSB-first within the LSB-first stream."""
    for k in range(ln - 1, -1, -1):
        bw.write((code >> k) & 1, 1)


# --- prefix-code (de)serialization ------------------------------------------


def _emit_code(bw: _BitWriter, lengths: np.ndarray) -> None:
    used = np.nonzero(lengths)[0]
    if len(used) <= 2 and (len(used) == 0 or used.max() < 256):
        # simple code: 1-2 symbols, each 1 or 8 bits
        bw.write(1, 1)  # is_simple
        if len(used) == 0:
            # a code must still exist: one symbol, symbol 0
            bw.write(0, 1)  # num_symbols - 1 = 0
            bw.write(0, 1)  # is_first_8bits = 0: symbol in 1 bit
            bw.write(0, 1)  # symbol 0
            return
        bw.write(len(used) - 1, 1)
        first = int(used[0])
        if first <= 1:
            bw.write(0, 1)  # is_first_8bits = 0: symbol in 1 bit
            bw.write(first, 1)
        else:
            bw.write(1, 1)  # is_first_8bits = 1
            bw.write(first, 8)
        if len(used) == 2:
            bw.write(int(used[1]), 8)
        return
    bw.write(0, 1)  # full code-length-coded code
    # code lengths of the code lengths
    cl_counts = np.bincount(lengths[lengths > 0], minlength=16)
    cl_counts_full = np.zeros(19, dtype=np.int64)
    cl_counts_full[: len(cl_counts)] = cl_counts
    n_zero_runs = int((lengths == 0).sum())
    if n_zero_runs:
        cl_counts_full[0] = n_zero_runs  # we emit zeros literally
    cl_lengths = _huff_lengths(cl_counts_full, max_len=7)
    # trim trailing entries in transmission order
    order_lens = [int(cl_lengths[s]) for s in _CLC_ORDER]
    n_codes = 19
    while n_codes > 4 and order_lens[n_codes - 1] == 0:
        n_codes -= 1
    bw.write(n_codes - 4, 4)
    for k in range(n_codes):
        bw.write(order_lens[k], 3)
    bw.write(0, 1)  # no max_symbol shortcut
    cl_codes = _canonical_codes(cl_lengths)
    if len(cl_codes) == 1:
        return  # single-symbol code: zero bits per entry (VP8L rule)
    for ln in lengths:
        code, nb = cl_codes[int(ln)]
        _write_code(bw, code, nb)


def _read_code(br: _BitReader, alphabet_size: int) -> np.ndarray:
    lengths = np.zeros(alphabet_size, dtype=np.int64)
    if br.read(1):  # simple
        num = br.read(1) + 1
        if br.read(1):  # is_first_8bits
            lengths[br.read(8)] = 1
        else:
            lengths[br.read(1)] = 1
        if num == 2:
            s2 = br.read(8)
            if s2 >= alphabet_size:
                raise ValueError("vp8l: simple code symbol out of range")
            lengths[s2] = 1
        return lengths
    n_codes = br.read(4) + 4
    if n_codes > 19:
        raise ValueError("vp8l: bad code-length count")
    cl_lengths = np.zeros(19, dtype=np.int64)
    for k in range(n_codes):
        cl_lengths[_CLC_ORDER[k]] = br.read(3)
    max_symbol = alphabet_size
    if br.read(1):  # length-limited transmission
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
        if max_symbol > alphabet_size:
            raise ValueError("vp8l: max_symbol out of range")
    dec = _HuffDecoder(cl_lengths)
    s = 0
    prev = 8
    while s < max_symbol:
        sym = dec.read(br)
        if sym < 16:
            lengths[s] = sym
            s += 1
            if sym:
                prev = sym
        elif sym == 16:
            rep = 3 + br.read(2)
            if s + rep > alphabet_size:
                raise ValueError("vp8l: repeat overruns alphabet")
            lengths[s : s + rep] = prev
            s += rep
        elif sym == 17:
            s += 3 + br.read(3)
        else:  # 18
            s += 11 + br.read(7)
        if s > alphabet_size:
            raise ValueError("vp8l: lengths overrun alphabet")
    return lengths


# --- public API --------------------------------------------------------------


def encode_webp(img: np.ndarray) -> bytes:
    """uint8[h, w, 4|3] -> lossless WebP (VP8L) bytes."""
    if img.ndim != 3 or img.shape[2] not in (3, 4):
        raise ValueError("encode_webp expects HxWx3 or HxWx4 uint8")
    h, w = img.shape[:2]
    if not (0 < w <= 16384 and 0 < h <= 16384):
        raise ValueError("encode_webp: dims must be in 1..16384")
    if img.shape[2] == 3:
        rgba = np.empty((h, w, 4), dtype=np.uint8)
        rgba[..., :3] = img
        rgba[..., 3] = 255
    else:
        rgba = img.astype(np.uint8)
    bw = _BitWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(int((rgba[..., 3] != 255).any()), 1)  # alpha hint
    bw.write(0, 3)  # version
    # SUBTRACT_GREEN transform (type 2, no payload): decorrelates the
    # channels (r-=g, b-=g mod 256) — big win on natural/gradient
    # content for an order-0 coder, one bit of header
    bw.write(1, 1)  # a transform follows
    bw.write(2, 2)  # transform type = SUBTRACT_GREEN
    bw.write(0, 1)  # no more transforms
    bw.write(0, 1)  # no color cache
    bw.write(0, 1)  # no meta prefix image
    g = rgba[..., 1].reshape(-1)
    r = ((rgba[..., 0].reshape(-1).astype(np.int16) - g) % 256).astype(
        np.uint8
    )
    b = ((rgba[..., 2].reshape(-1).astype(np.int16) - g) % 256).astype(
        np.uint8
    )
    a = rgba[..., 3].reshape(-1)
    # green alphabet = 256 literals + 24 length prefixes (+0 cache)
    g_counts = np.zeros(280, dtype=np.int64)
    g_counts[:256] = np.bincount(g, minlength=256)
    lens = {
        "g": _huff_lengths(g_counts),
        "r": _huff_lengths(np.bincount(r, minlength=256)),
        "b": _huff_lengths(np.bincount(b, minlength=256)),
        "a": _huff_lengths(np.bincount(a, minlength=256)),
        "d": np.zeros(40, dtype=np.int64),  # distance code unused
    }
    for key in ("g", "r", "b", "a", "d"):
        _emit_code(bw, lens[key])
    # single-symbol codes cost ZERO bits per pixel (the VP8L rule the
    # decoder's `single` shortcut mirrors) — drop them to (0, 0)
    codes = {}
    for k in ("g", "r", "b", "a"):
        c = _canonical_codes(lens[k])
        codes[k] = {s: (0, 0) for s in c} if len(c) == 1 else c
    # per-channel (code, nbits) lookup tables -> one python loop over
    # pixels emitting precomputed bit patterns
    for gc, rc, bc, ac in zip(g, r, b, a):
        cg, ng = codes["g"][int(gc)]
        _write_code(bw, cg, ng)
        cr, nr = codes["r"][int(rc)]
        _write_code(bw, cr, nr)
        cb, nb = codes["b"][int(bc)]
        _write_code(bw, cb, nb)
        ca, na = codes["a"][int(ac)]
        _write_code(bw, ca, na)
    bw.flush()
    payload = b"\x2f" + bytes(bw.out)
    if len(payload) % 2:
        payload += b"\x00"
    vp8l = b"VP8L" + len(payload).to_bytes(4, "little") + payload
    riff = b"WEBP" + vp8l
    return b"RIFF" + len(riff).to_bytes(4, "little") + riff


def decode_webp(buf: bytes) -> np.ndarray:
    """Lossless WebP (VP8L) bytes -> uint8[h, w, 4]. ValueError-only
    error contract; meta prefix images / transforms raise (documented
    narrowing)."""
    try:
        return _decode_inner(bytes(buf))
    except ValueError:
        raise
    except (IndexError, KeyError, OverflowError, MemoryError) as e:
        raise ValueError(f"vp8l: malformed stream ({type(e).__name__})") from e


def _decode_inner(buf: bytes) -> np.ndarray:
    if buf[:4] != b"RIFF" or buf[8:12] != b"WEBP":
        raise ValueError("webp: bad RIFF/WEBP header")
    if buf[12:16] != b"VP8L":
        raise ValueError("webp: only VP8L (lossless) supported")
    ln = int.from_bytes(buf[16:20], "little")
    payload = buf[20 : 20 + ln]
    if len(payload) != ln or not payload or payload[0] != 0x2F:
        raise ValueError("vp8l: bad signature byte")
    br = _BitReader(payload[1:])
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(1)  # alpha hint
    if br.read(3) != 0:
        raise ValueError("vp8l: unknown version")
    subtract_green = False
    while br.read(1):  # transform list
        ttype = br.read(2)
        if ttype != 2:
            raise ValueError(
                "vp8l: only the SUBTRACT_GREEN transform is supported "
                "(narrowing)"
            )
        if subtract_green:
            raise ValueError("vp8l: duplicate transform")
        subtract_green = True
    cache_bits = 0
    if br.read(1):
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("vp8l: bad color-cache size")
    if br.read(1):
        raise ValueError("vp8l: meta prefix images unsupported (narrowing)")
    cache_size = (1 << cache_bits) if cache_bits else 0
    dec_g = _HuffDecoder(_read_code(br, 256 + 24 + cache_size))
    dec_r = _HuffDecoder(_read_code(br, 256))
    dec_b = _HuffDecoder(_read_code(br, 256))
    dec_a = _HuffDecoder(_read_code(br, 256))
    dec_d = _HuffDecoder(_read_code(br, 40))
    n = w * h
    out = np.empty((n, 4), dtype=np.uint8)
    cache = [0] * cache_size
    i = 0
    while i < n:
        sym = dec_g.read(br)
        if sym < 256:
            g = sym
            r = dec_r.read(br)
            b = dec_b.read(br)
            a = dec_a.read(br)
            out[i] = (r, g, b, a)
            if cache_size:
                argb = (a << 24) | (r << 16) | (g << 8) | b
                cache[(argb * 0x1E35A7BD) >> (32 - cache_bits) & (
                    cache_size - 1
                )] = argb
            i += 1
        elif sym < 280:
            length = _lz77_value(br, sym - 256)
            dist_sym = dec_d.read(br)
            dist_code = _lz77_value(br, dist_sym)
            dist = _plane_to_dist(dist_code, w)
            if dist < 1 or dist > i or i + length > n:
                raise ValueError("vp8l: bad backward reference")
            for k in range(length):
                out[i + k] = out[i + k - dist]
                if cache_size:
                    r_, g_, b_, a_ = (int(v) for v in out[i + k])
                    argb = (a_ << 24) | (r_ << 16) | (g_ << 8) | b_
                    cache[(argb * 0x1E35A7BD) >> (32 - cache_bits) & (
                        cache_size - 1
                    )] = argb
            i += length
        else:
            argb = cache[sym - 280]
            out[i] = (
                (argb >> 16) & 0xFF,
                (argb >> 8) & 0xFF,
                argb & 0xFF,
                (argb >> 24) & 0xFF,
            )
            i += 1
    if subtract_green:
        g16 = out[:, 1].astype(np.int16)
        out[:, 0] = ((out[:, 0] + g16) % 256).astype(np.uint8)
        out[:, 2] = ((out[:, 2] + g16) % 256).astype(np.uint8)
    return out.reshape(h, w, 4)


def _lz77_value(br: _BitReader, prefix: int) -> int:
    """VP8L LZ77 prefix coding: prefix symbol -> value (length or
    distance code), with extra bits for prefixes >= 4."""
    if prefix < 4:
        return prefix + 1
    extra = (prefix - 2) >> 1
    offset = (2 + (prefix & 1)) << extra
    return offset + br.read(extra) + 1


# the 120 near-pixel distance map of the VP8L spec (§ distance mapping):
# codes 1..120 address (dx, dy) neighbors; >120 are linear - 120
_DIST_MAP = [
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
]


def _plane_to_dist(code: int, w: int) -> int:
    if code > 120:
        return code - 120
    dx, dy = _DIST_MAP[code - 1]
    d = dy * w + dx
    return max(d, 1)
