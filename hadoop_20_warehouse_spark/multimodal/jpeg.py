"""JPEG (ITU-T T.81 / ISO 10918-1) codec — stdlib + numpy.

The last tractable image-format gap (r15 VERDICT "What's missing" #1):
PIL/cv2 are absent from the container, but Huffman JPEG is marker
parse + Huffman + dequant + IDCT, all expressible with ``struct`` and
numpy.  This module ships BOTH directions:

- :func:`decode_jpeg` — baseline DCT (SOF0/1) AND progressive (SOF2:
  spectral selection + successive approximation, EOB-run coding, per
  T.81 Annex G — r16 VERDICT #4), grayscale and YCbCr, arbitrary h/v
  sampling factors (4:4:4, 4:2:0, 4:2:2, ...), multiple DQT/DHT
  segments, restart intervals (DRI/RSTn), byte unstuffing, fill
  bytes, standalone TEM markers.  Lossless and arithmetic coding
  raise — honest gate.
- :func:`encode_jpeg` / :func:`encode_jpeg_progressive` — baseline
  and progressive encoders with the T.81 Annex K example quantization
  (scaled by quality) and Huffman tables, used to synthesize REAL
  container bytes for tests and registered queries.  Both serialize
  the SAME quantized coefficients, so their decodes are bit-identical
  (the pytest pin).

Exactness contract the registered query leans on (the constant-color
PPM/BMP/PNG oracle pattern, adapted to a LOSSY codec): a uniform
grayscale image with EVEN sample value v encodes to DC-only blocks
whose coefficient 8·(v−128) is exactly representable after the
quality-50 DC quantization step (q=16 ⇒ quantized DC=(v−128)/2 with
zero remainder), so decode(encode(v)) == v bit-exactly and a DuckDB
oracle can predict the decoded mean in closed form.  Gradients and
color go through the round-trip-tolerance pytest instead.

Reference analog: binary payload rows in SequenceFiles
(``src/core/org/apache/hadoop/io/BytesWritable.java``) — the
reference warehouse moves opaque bytes; decoding them is the
training-data pipeline's job, done here Arrow-batched per partition
(multimodal/binary.py plumbing), never row-at-a-time on the driver.
"""

from __future__ import annotations

import struct

import numpy as np

# --- constants ---------------------------------------------------------------

# zigzag order: index i of the zigzag sequence -> (row, col) flat index
_ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# T.81 Annex K.1 example quantization tables (luminance, chrominance)
_Q_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)
_Q_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

# T.81 Annex K.3 example Huffman tables: (bits[1..16], values)
_DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUMA_VALS = list(range(12))
_DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHROMA_VALS = list(range(12))
_AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]
_AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]

# Progressive AC scans need EOBn symbols (r<<4 | 0, r=1..14) that the
# Annex K SEQUENTIAL tables do not define (K.3 covers only EOB, ZRL and
# s>=1 pairs) — real progressive encoders ship custom-built tables in
# their DHT segments.  This fixed canonical table assigns every symbol
# a progressive scan can emit a 9-bit code (176 symbols < 512 slots):
# valid prefix code, carried in the stream, decoded like any DHT.
_AC_PROG_VALS = (
    [r << 4 for r in range(15)]          # EOB / EOBn run-length codes
    + [0xF0]                             # ZRL
    + [(r << 4) | s for r in range(16) for s in range(1, 11)]
)
_AC_PROG_BITS = [0] * 8 + [len(_AC_PROG_VALS)] + [0] * 7

# orthonormal 8-point DCT-II basis: row k, col n
_DCT_C = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _DCT_C[_k, _n] = np.cos((2 * _n + 1) * _k * np.pi / 16) * (
            np.sqrt(0.125) if _k == 0 else 0.5
        )


def scale_quant(table: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling of a base quantization table (libjpeg's
    jpeg_quality_scaling): quality 50 returns the table verbatim —
    which is what keeps the even-gray DC exactness contract."""
    if not 1 <= quality <= 100:
        raise ValueError("quality must be in [1, 100]")
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (table * s + 50) // 100
    return np.clip(q, 1, 255)


# --- Huffman -----------------------------------------------------------------


# Memoized canonical-code tables (r18 optimization round, guide §4.5):
# the bench fixtures (and real corpora) reuse the same DHT segments —
# typically the Annex K tables — across every image, yet the tables
# were rebuilt per image (cProfile: ~30% of decode wall).  The cache
# key is the exact (bits, values) content, so a nonstandard DHT simply
# occupies its own slot; the cap bounds memory against adversarial
# streams of distinct tables (when full, the oldest entry is evicted —
# correctness is unaffected, an evicted table is just rebuilt).
_TABLE_CACHE_MAX = 64
_DECODE_TABLE_CACHE: dict[tuple, dict] = {}
_ENCODE_TABLE_CACHE: dict[tuple, dict] = {}
_DECODE_LUT_CACHE: dict[tuple, list] = {}


def _memo_put(cache: dict, key, value) -> None:
    """Store ``value`` in a capped table cache, evicting the oldest
    entry (dicts keep insertion order) when the cache is full."""
    if len(cache) >= _TABLE_CACHE_MAX:
        del cache[next(iter(cache))]
    cache[key] = value


def _build_decode_table(bits, values) -> dict[tuple[int, int], int]:
    """(code_length, code) -> symbol, canonical T.81 code assignment."""
    key = (tuple(bits), tuple(values))
    cached = _DECODE_TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    table: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = values[k]
            code += 1
            k += 1
        code <<= 1
    _memo_put(_DECODE_TABLE_CACHE, key, table)
    return table


def _build_decode_lut(bits, values) -> list:
    """Flat 2^16-entry decode table (r19 optimization round, guide
    §4.2): entry[next-16-bits] = (code_length << 8) | symbol, 0 for
    bit patterns that start no code.  Canonical codes are prefix-free
    and at most 16 bits, so peeking 16 bits and one list index
    replaces the per-bit dict probes of ``_build_decode_table`` (the
    cProfile-dominant decode term after the r18 memoization).  Built
    with two numpy fills + one ``tolist`` and memoized per DHT
    content under the same size cap as the dict tables.

    A malformed DHT raises ``ValueError``: fewer than 16 code counts, a
    value list shorter than ``sum(bits)``, or an over-full table (a
    code reaching ``1 << length``, which would overlap LUT ranges and
    decode a corrupt stream to a bogus symbol)."""
    key = (tuple(bits), tuple(values))
    cached = _DECODE_LUT_CACHE.get(key)
    if cached is not None:
        return cached
    if len(bits) != 16 or len(values) < sum(bits):
        raise ValueError("truncated DHT segment in JPEG")
    lut = np.zeros(1 << 16, dtype=np.int32)
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            if code >= 1 << length:
                raise ValueError("over-full Huffman table in JPEG DHT")
            lo = code << (16 - length)
            hi = (code + 1) << (16 - length)
            lut[lo:hi] = (length << 8) | values[k]
            code += 1
            k += 1
        code <<= 1
    out = lut.tolist()
    _memo_put(_DECODE_LUT_CACHE, key, out)
    return out


def _build_encode_table(bits, values) -> dict[int, tuple[int, int]]:
    """symbol -> (code_length, code)."""
    key = (tuple(bits), tuple(values))
    cached = _ENCODE_TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    table = {v: k for k, v in _build_decode_table(bits, values).items()}
    _memo_put(_ENCODE_TABLE_CACHE, key, table)
    return table


class _BitReader:
    """MSB-first bit reader over an UNSTUFFED scan byte string.

    r19 optimization round (guide §4.2): accumulator-based — bytes
    refill an integer window, ``read_bits`` is one shift+mask instead
    of n method calls, and ``decode_symbol`` peeks 16 bits into the
    flat LUT (``_build_decode_lut``) instead of probing a dict once
    per bit.  Error behavior is unchanged: consuming past the end of
    the stream raises 'truncated', an impossible 16-bit prefix raises
    'bad Huffman code'."""

    __slots__ = ("data", "n", "pos", "acc", "nbits")

    def __init__(self, data: bytes):
        self.data = data
        self.n = len(data)
        self.pos = 0  # next byte to load into the accumulator
        self.acc = 0
        self.nbits = 0

    def read_bit(self) -> int:
        return self.read_bits(1)

    def read_bits(self, n: int) -> int:
        nbits = self.nbits
        acc = self.acc
        pos = self.pos
        data = self.data
        end = self.n
        while nbits < n:
            if pos >= end:
                raise ValueError("truncated JPEG scan data")
            acc = (acc << 8) | data[pos]
            pos += 1
            nbits += 8
        nbits -= n
        v = (acc >> nbits) & ((1 << n) - 1)
        self.acc = acc & ((1 << nbits) - 1)
        self.nbits = nbits
        self.pos = pos
        return v

    def decode_symbol(self, table: list) -> int:
        nbits = self.nbits
        acc = self.acc
        pos = self.pos
        data = self.data
        end = self.n
        while nbits < 16 and pos < end:
            acc = (acc << 8) | data[pos]
            pos += 1
            nbits += 8
        if nbits >= 16:
            idx = (acc >> (nbits - 16)) & 0xFFFF
        else:  # stream tail: left-align what remains, zero-pad
            idx = (acc << (16 - nbits)) & 0xFFFF
        ent = table[idx]
        length = ent >> 8
        if length == 0 or length > nbits:
            # no code starts with these bits, or the stream ended
            # inside a code — match the per-bit reader's errors
            if nbits < 16:
                raise ValueError("truncated JPEG scan data")
            raise ValueError("bad Huffman code in JPEG scan")
        nbits -= length
        self.acc = acc & ((1 << nbits) - 1)
        self.nbits = nbits
        self.pos = pos
        return ent & 0xFF

    def align(self) -> None:
        # drop to the previous byte boundary (discard partial bits)
        drop = self.nbits & 7
        if drop:
            self.nbits -= drop
            self.acc &= (1 << self.nbits) - 1

    def seek_byte(self, boundary: int) -> None:
        """Jump to an absolute byte offset (restart-marker resync)."""
        self.pos = boundary
        self.acc = 0
        self.nbits = 0


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 sign extension of a t-bit magnitude."""
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


# --- decoder -----------------------------------------------------------------


def decode_jpeg(payload: bytes) -> np.ndarray:
    """JPEG → uint8 (height, width, 3) RGB: baseline sequential
    (SOF0/1) AND progressive (SOF2, spectral selection + successive
    approximation, T.81 Annex G).  Grayscale is replicated across
    channels (the PNG/decode_image contract); chroma subsampling is
    upsampled by sample replication.  Raises on lossless /
    arithmetic-coded / hierarchical frames.

    Marker-walk robustness (r16 ADVICE): any number of 0xFF fill
    bytes may precede a marker (T.81 B.1.1.2) and length-less
    standalone markers (TEM 0x01, stray RSTn) are legal between
    segments — both previously misparsed as segment headers."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    n = len(payload)
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None
    restart_interval = 0
    prog = None  # progressive accumulator: set on SOF2
    while pos + 2 <= n:
        if payload[pos] != 0xFF:
            raise ValueError("bad JPEG marker alignment")
        # T.81 B.1.1.2: 0xFF fill bytes may pad before any marker
        while pos + 1 < n and payload[pos + 1] == 0xFF:
            pos += 1
        if pos + 2 > n:
            break
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            # TEM / stray RSTn: standalone, no length field
            continue
        if pos + 2 > n:
            raise ValueError("truncated JPEG segment header")
        (seglen,) = struct.unpack_from(">H", payload, pos)
        seg = payload[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0xF
                p += 1
                if pq:
                    tbl = np.frombuffer(
                        seg[p : p + 128], dtype=">u2"
                    ).astype(np.int64)
                    p += 128
                else:
                    tbl = np.frombuffer(
                        seg[p : p + 64], dtype=np.uint8
                    ).astype(np.int64)
                    p += 64
                z = np.zeros(64, dtype=np.int64)
                z[_ZIGZAG] = tbl
                qt[tq] = z.reshape(8, 8)
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0xF
                bits = list(seg[p + 1 : p + 17])
                nv = sum(bits)
                vals = list(seg[p + 17 : p + 17 + nv])
                (huff_ac if tc else huff_dc)[th] = _build_decode_lut(
                    bits, vals
                )
                p += 17 + nv
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            prec, h, w, nc = struct.unpack_from(">BHHB", seg, 0)
            if prec != 8:
                raise ValueError("only 8-bit JPEG precision supported")
            comps = []
            for i in range(nc):
                cid, hv, tq = struct.unpack_from(">BBB", seg, 6 + 3 * i)
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq}
                )
            frame = {"h": h, "w": w, "comps": comps}
            if marker == 0xC2:
                prog = _ProgressiveState(frame)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                "only baseline (SOF0/1) and progressive (SOF2) "
                "Huffman JPEG supported"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS — scan follows
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = seg[0]
            sel = {}
            scan_ids = []
            for i in range(ns):
                cs, tt = seg[1 + 2 * i], seg[2 + 2 * i]
                sel[cs] = (tt >> 4, tt & 0xF)
                scan_ids.append(cs)
            if prog is None:
                return _decode_scan(
                    payload, pos + seglen, frame, sel, qt, huff_dc,
                    huff_ac, restart_interval,
                )
            ss, se, ahal = seg[1 + 2 * ns], seg[2 + 2 * ns], seg[3 + 2 * ns]
            data, rst_breaks, pos = _unstuff_scan(payload, pos + seglen)
            prog.decode_scan(
                data, rst_breaks, restart_interval, scan_ids, sel,
                huff_dc, huff_ac, ss, se, ahal >> 4, ahal & 0xF,
            )
            continue  # pos already sits at the terminating marker
        pos += seglen
    if prog is not None:
        return prog.reconstruct(qt)
    raise ValueError("JPEG has no scan data")


def _unstuff_scan(payload: bytes, pos: int):
    """Collect entropy-coded bytes from ``pos``: unstuff 0xFF00,
    record RSTn boundaries, stop at any other marker.  Returns
    (data, rst_breaks, next_marker_pos)."""
    data = bytearray()
    rst_breaks: list[int] = []
    n = len(payload)
    while pos < n:
        b = payload[pos]
        if b == 0xFF and pos + 1 < n:
            m = payload[pos + 1]
            if m == 0x00:
                data.append(0xFF)
                pos += 2
                continue
            if 0xD0 <= m <= 0xD7:  # RSTn
                rst_breaks.append(len(data))
                pos += 2
                continue
            break  # next segment marker
        data.append(b)
        pos += 1
    return bytes(data), rst_breaks, pos


def _decode_scan(
    payload, pos, frame, sel, qt, huff_dc, huff_ac, restart_interval
):
    # r19 optimization round (guide §4.2): the entropy loop stores each
    # block's zigzag coefficients (a plain Python list from
    # _decode_block) into the progressive accumulator's layout, and
    # dequant + IDCT + upsample/color-convert run BATCHED over every
    # block at once via _ProgressiveState.reconstruct — the one
    # einsum IDCT (C.T @ B @ C per block) that progressive scans use
    # too, so both scan types reconstruct through the same code.
    data, rst_breaks, _ = _unstuff_scan(payload, pos)
    comps = frame["comps"]
    acc = _ProgressiveState(frame)
    reader = _BitReader(bytes(data))
    pred = [0] * len(comps)
    rst_iter = iter(rst_breaks)
    mcu_idx = 0
    for my in range(acc.mcuy):
        for mx in range(acc.mcux):
            if restart_interval and mcu_idx and mcu_idx % restart_interval == 0:
                # byte-align at the recorded restart boundary and
                # reset DC predictors (T.81 F.2.1.3.1)
                reader.align()
                boundary = next(rst_iter, None)
                if boundary is not None:
                    reader.seek_byte(boundary)
                pred = [0] * len(comps)
            for ci, c in enumerate(comps):
                dct, act = sel[c["id"]]
                coef = acc.coef[ci]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        zz = _decode_block(
                            reader, huff_dc[dct], huff_ac[act], pred, ci
                        )
                        coef[my * c["v"] + by, mx * c["h"] + bx] = zz
            mcu_idx += 1
    return acc.reconstruct(qt)


def _finish_planes(comps, planes, h, w, hmax, vmax) -> np.ndarray:
    """Upsample component planes by replication, crop to (h, w), and
    color-convert (YCbCr → RGB; grayscale replicated) — shared by the
    baseline and progressive paths."""
    out_planes = []
    for c, p in zip(comps, planes):
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        out_planes.append(p[:h, :w])
    if len(comps) == 1:
        g = np.clip(np.round(out_planes[0]), 0, 255).astype(np.uint8)
        return np.repeat(g[:, :, None], 3, axis=2)
    y, cb, cr = out_planes[0], out_planes[1] - 128.0, out_planes[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(
        np.round(np.stack([r, g, b], axis=2)), 0, 255
    ).astype(np.uint8)


def _decode_block(reader, dc_table, ac_table, pred, ci) -> list:
    """One block's coefficients in ZIGZAG order as a Python list —
    per-element numpy scalar stores were the loop's hot cost; the
    caller batch-converts whole planes at reconstruct time."""
    zz = [0] * 64
    t = reader.decode_symbol(dc_table)
    if t:
        v = reader.read_bits(t)
        # inlined _extend (hot loop: ~1.2M calls per 600 images)
        pred[ci] += v if v >= (1 << (t - 1)) else v - (1 << t) + 1
    zz[0] = pred[ci]
    k = 1
    while k < 64:
        rs = reader.decode_symbol(ac_table)
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r == 15:  # ZRL: skip 16 zeros
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("JPEG AC run past end of block")
        v = reader.read_bits(s)
        zz[k] = v if v >= (1 << (s - 1)) else v - (1 << s) + 1
        k += 1
    return zz


# --- progressive decoder (T.81 Annex G) --------------------------------------


def _ceil_div(a: int, b: int) -> int:
    return -(-a // b)


class _ProgressiveState:
    """Coefficient accumulator for progressive (SOF2) decoding —
    T.81 Annex G: DC/AC spectral-selection scans with successive
    approximation, EOB-run coding, restart handling.  Coefficients
    live in zigzag order per block on an MCU-padded grid; AC scans
    (always non-interleaved per G.1.1.1.1) touch only the component's
    ceil(dim/8) block rectangle."""

    def __init__(self, frame):
        self.frame = frame
        comps = frame["comps"]
        self.hmax = max(c["h"] for c in comps)
        self.vmax = max(c["v"] for c in comps)
        h, w = frame["h"], frame["w"]
        self.mcux = _ceil_div(w, 8 * self.hmax)
        self.mcuy = _ceil_div(h, 8 * self.vmax)
        self.coef: list[np.ndarray] = []
        for c in comps:
            c["bw"] = _ceil_div(_ceil_div(w * c["h"], self.hmax), 8)
            c["bh"] = _ceil_div(_ceil_div(h * c["v"], self.vmax), 8)
            self.coef.append(
                np.zeros(
                    (self.mcuy * c["v"], self.mcux * c["h"], 64),
                    dtype=np.int64,
                )
            )

    def decode_scan(
        self, data, rst_breaks, restart_interval, scan_ids, sel,
        huff_dc, huff_ac, ss, se, ah, al,
    ) -> None:
        comps = self.frame["comps"]
        idx = {c["id"]: i for i, c in enumerate(comps)}
        members = [idx[cid] for cid in scan_ids]
        reader = _BitReader(data)
        rst_iter = iter(rst_breaks)
        pred = {ci: 0 for ci in members}
        self._eobrun = 0

        def restart():
            reader.align()
            boundary = next(rst_iter, None)
            if boundary is not None:
                reader.seek_byte(boundary)
            for ci in pred:
                pred[ci] = 0
            self._eobrun = 0

        if len(members) > 1:
            if ss != 0:
                raise ValueError(
                    "progressive AC scan must be non-interleaved"
                )
            unit = 0
            for my in range(self.mcuy):
                for mx in range(self.mcux):
                    if restart_interval and unit and (
                        unit % restart_interval == 0
                    ):
                        restart()
                    for ci in members:
                        c = comps[ci]
                        dct = huff_dc.get(sel[c["id"]][0])
                        for by in range(c["v"]):
                            for bx in range(c["h"]):
                                blk = self.coef[ci][
                                    my * c["v"] + by, mx * c["h"] + bx
                                ]
                                self._dc_pass(reader, blk, dct, pred, ci, ah, al)
                    unit += 1
            return
        ci = members[0]
        c = comps[ci]
        dct, act = sel[c["id"]]
        for bi in range(c["bh"] * c["bw"]):
            if restart_interval and bi and bi % restart_interval == 0:
                restart()
            by, bx = divmod(bi, c["bw"])
            blk = self.coef[ci][by, bx]
            if ss == 0:
                self._dc_pass(reader, blk, huff_dc.get(dct), pred, ci, ah, al)
            elif ah == 0:
                self._ac_first(reader, blk, huff_ac[act], ss, se, al)
            else:
                self._ac_refine(reader, blk, huff_ac[act], ss, se, al)

    @staticmethod
    def _dc_pass(reader, blk, dc_table, pred, ci, ah, al) -> None:
        if ah == 0:  # first DC scan: diff-coded, point-transformed
            t = reader.decode_symbol(dc_table)
            diff = _extend(reader.read_bits(t), t) if t else 0
            pred[ci] += diff
            blk[0] = pred[ci] << al
        else:  # refinement: one raw bit per block (G.1.2.1)
            if reader.read_bit():
                blk[0] |= 1 << al

    def _ac_first(self, reader, blk, ac_table, ss, se, al) -> None:
        if self._eobrun > 0:
            self._eobrun -= 1
            return
        k = ss
        while k <= se:
            rs = reader.decode_symbol(ac_table)
            r, s = rs >> 4, rs & 0xF
            if s == 0:
                if r == 15:  # ZRL
                    k += 16
                    continue
                self._eobrun = (1 << r) - 1
                if r:
                    self._eobrun += reader.read_bits(r)
                return
            k += r
            if k > se:
                raise ValueError("JPEG AC run past end of band")
            blk[k] = _extend(reader.read_bits(s), s) << al
            k += 1

    def _ac_refine(self, reader, blk, ac_table, ss, se, al) -> None:
        # T.81 G.1.2.3 correction-bit procedure (the libjpeg
        # decode_mcu_AC_refine control flow, re-derived from the spec)
        p1 = 1 << al
        m1 = -1 << al
        k = ss
        if self._eobrun == 0:
            while k <= se:
                rs = reader.decode_symbol(ac_table)
                r, s = rs >> 4, rs & 0xF
                if s == 0:
                    if r != 15:
                        self._eobrun = 1 << r
                        if r:
                            self._eobrun += reader.read_bits(r)
                        break
                    # r == 15: ZRL — pass 16 zero-history coefficients
                    newval = 0
                else:
                    if s != 1:
                        raise ValueError(
                            "bad successive-approximation AC symbol"
                        )
                    newval = p1 if reader.read_bit() else m1
                while k <= se:
                    if blk[k] != 0:
                        if reader.read_bit() and (blk[k] & p1) == 0:
                            blk[k] += p1 if blk[k] >= 0 else m1
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if newval:
                    if k > se:
                        raise ValueError(
                            "corrupt AC refinement scan (run past band)"
                        )
                    blk[k] = newval
                k += 1
        if self._eobrun > 0:
            while k <= se:
                if blk[k] != 0:
                    if reader.read_bit() and (blk[k] & p1) == 0:
                        blk[k] += p1 if blk[k] >= 0 else m1
                k += 1
            self._eobrun -= 1

    def reconstruct(self, qt: dict[int, np.ndarray]) -> np.ndarray:
        comps = self.frame["comps"]
        planes = []
        for c, zz in zip(comps, self.coef):
            nat = np.zeros_like(zz)
            nat[:, :, _ZIGZAG] = zz
            by, bx = zz.shape[0], zz.shape[1]
            blocks = nat.reshape(by, bx, 8, 8).astype(np.float64)
            blocks *= qt[c["tq"]]
            # batched orthonormal IDCT: C.T @ B @ C per block, matmul
            # broadcasting over the block grid (no per-call path search)
            px = _DCT_C.T @ blocks @ _DCT_C + 128.0
            planes.append(
                px.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)
            )
        return _finish_planes(
            comps, planes, self.frame["h"], self.frame["w"],
            self.hmax, self.vmax,
        )


# --- encoder -----------------------------------------------------------------


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | code
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)
            self.nbits -= 8
            self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-fill per T.81 F.1.2.3


def _quantize_plane_zz(padded: np.ndarray, q: np.ndarray) -> np.ndarray:
    """(bh, bw, 64) ZIGZAG-order quantized coefficients for one
    MCU-padded plane — the whole plane's FDCT in one broadcast
    ``matmul`` chain (r19 optimization round, guide §4.2).  The
    arithmetic is element-for-element the expression _encode_block
    used per block: ``round(((C @ (blk-128)) @ C.T) / q)`` — matmul
    broadcasting runs the SAME two 8x8 GEMMs per block, so the
    coefficients are bit-identical (pinned by the baseline-vs-
    progressive round-trip pytest and the fixture hashes)."""
    ph, pw = padded.shape
    bh, bw = ph // 8, pw // 8
    blocks = padded.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
    coef = np.round(
        np.matmul(np.matmul(_DCT_C, blocks - 128.0), _DCT_C.T) / q
    ).astype(np.int64)
    return coef.reshape(bh, bw, 64)[:, :, _ZIGZAG]


def _encode_block_zz(writer, zz, dc_tbl, ac_tbl, pred, ci) -> None:
    """Serialize one block from its ZIGZAG quantized coefficients
    (a plain Python list — the numpy per-element reads were the
    encoder loop's hot cost)."""
    dc = zz[0]
    diff = dc - pred[ci]
    pred[ci] = dc
    t = diff.bit_length() if diff else 0  # bit_length ignores sign
    length, code = dc_tbl[t]
    writer.write(code, length)
    if t:
        writer.write(diff if diff > 0 else diff + (1 << t) - 1, t)
    run = 0
    last_nz = 0
    for k in range(63, 0, -1):
        if zz[k]:
            last_nz = k
            break
    for k in range(1, 64):
        v = zz[k]
        if v == 0:
            if k > last_nz:
                length, code = ac_tbl[0x00]  # EOB
                writer.write(code, length)
                return
            run += 1
            if run == 16:
                length, code = ac_tbl[0xF0]  # ZRL
                writer.write(code, length)
                run = 0
            continue
        s = v.bit_length()  # == abs(v).bit_length()
        length, code = ac_tbl[(run << 4) | s]
        writer.write(code, length)
        writer.write(v if v > 0 else v + (1 << s) - 1, s)
        run = 0


def _seg(marker: int, body: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body


def _pad_plane(p: np.ndarray, bh: int, bw: int) -> np.ndarray:
    """Edge-replicate ``p`` up to (bh, bw) (multiples of the MCU)."""
    h, w = p.shape
    pp = np.empty((bh, bw))
    pp[:h, :w] = p
    pp[h:, :w] = p[h - 1 : h, :]
    pp[:, w:] = pp[:, w - 1 : w]
    return pp


def _prep_planes(img: np.ndarray, quality: int, subsampling: str):
    """Validate + color-convert + (optionally) subsample the input:
    returns (planes, qts, qids, samps, gray) — shared by the baseline
    and progressive encoders so both quantize IDENTICAL samples."""
    if img.dtype != np.uint8:
        raise ValueError("encode_jpeg wants uint8 pixels")
    gray = img.ndim == 2
    if not gray and (img.ndim != 3 or img.shape[2] != 3):
        raise ValueError("encode_jpeg wants (h,w) gray or (h,w,3) RGB")
    if subsampling not in ("444", "420"):
        raise ValueError("subsampling must be '444' or '420'")
    sub = subsampling == "420" and not gray
    h, w = img.shape[:2]
    ql = scale_quant(_Q_LUMA, quality).reshape(8, 8)
    qc = scale_quant(_Q_CHROMA, quality).reshape(8, 8)
    if gray:
        return [img.astype(np.float64)], [ql], [0], [(1, 1)], True
    rgb = img.astype(np.float64)
    r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    if sub:
        # box-average 2x2 on an even-padded plane
        ph, pw = (h + 1) // 2 * 2, (w + 1) // 2 * 2
        cb = _pad_plane(cb, ph, pw)
        cr = _pad_plane(cr, ph, pw)
        cb = (cb[0::2, 0::2] + cb[0::2, 1::2]
              + cb[1::2, 0::2] + cb[1::2, 1::2]) / 4.0
        cr = (cr[0::2, 0::2] + cr[0::2, 1::2]
              + cr[1::2, 0::2] + cr[1::2, 1::2]) / 4.0
    samps = [(2, 2), (1, 1), (1, 1)] if sub else [(1, 1)] * 3
    return [y, cb, cr], [ql, qc, qc], [0, 1, 1], samps, False


def encode_jpeg(
    img: np.ndarray,
    quality: int = 50,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """Baseline JPEG from uint8 (h, w) grayscale or (h, w, 3) RGB —
    Annex K quantization scaled by ``quality`` and Annex K Huffman
    tables.  ``subsampling``: ``"444"`` (every component full-res) or
    ``"420"`` (color only: chroma box-averaged 2x2, the MCU
    interleave real-world JPEGs use).  ``restart_interval`` > 0 emits
    a DRI segment and RSTn markers every N MCUs (byte-aligned, DC
    predictors reset) — the resync structure long scans carry.  At
    quality 50 the tables apply verbatim, preserving the even-gray
    exactness contract."""
    planes, qts, qids, samps, gray = _prep_planes(img, quality, subsampling)
    h, w = img.shape[:2]
    ql = qts[0]
    qc = qts[1] if not gray else None
    out = bytearray(b"\xff\xd8")  # SOI
    out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    zz_l = np.asarray(ql.reshape(64)[_ZIGZAG], dtype=np.uint8).tobytes()
    out += _seg(0xDB, b"\x00" + zz_l)
    if not gray:
        zz_c = np.asarray(qc.reshape(64)[_ZIGZAG], dtype=np.uint8).tobytes()
        out += _seg(0xDB, b"\x01" + zz_c)
    nc = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for i in range(nc):
        hs, vs = samps[i]
        sof += struct.pack(">BBB", i + 1, (hs << 4) | vs, qids[i])
    out += _seg(0xC0, sof)

    def dht(tc, th, bits, vals):
        return _seg(
            0xC4,
            bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals),
        )

    out += dht(0, 0, _DC_LUMA_BITS, _DC_LUMA_VALS)
    out += dht(1, 0, _AC_LUMA_BITS, _AC_LUMA_VALS)
    if not gray:
        out += dht(0, 1, _DC_CHROMA_BITS, _DC_CHROMA_VALS)
        out += dht(1, 1, _AC_CHROMA_BITS, _AC_CHROMA_VALS)
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([nc])
    for i in range(nc):
        tbl = 0x00 if i == 0 else 0x11
        sos += bytes([i + 1, tbl])
    sos += b"\x00\x3f\x00"
    out += _seg(0xDA, sos)

    dc_l = _build_encode_table(_DC_LUMA_BITS, _DC_LUMA_VALS)
    ac_l = _build_encode_table(_AC_LUMA_BITS, _AC_LUMA_VALS)
    dc_c = _build_encode_table(_DC_CHROMA_BITS, _DC_CHROMA_VALS)
    ac_c = _build_encode_table(_AC_CHROMA_BITS, _AC_CHROMA_VALS)
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    # whole-plane FDCT + quantization up front (guide §4.2); the MCU
    # loop below only serializes precomputed Python-int coefficients
    zz_planes = [
        _quantize_plane_zz(
            _pad_plane(p, mcuy * s[1] * 8, mcux * s[0] * 8), qts[ci]
        ).tolist()
        for ci, (p, s) in enumerate(zip(planes, samps))
    ]
    writer = _BitWriter()
    pred = [0] * nc
    mcu_idx = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_idx and (
                mcu_idx % restart_interval == 0
            ):
                writer.flush()
                out_rst = 0xD0 + ((mcu_idx // restart_interval - 1) % 8)
                writer.out += bytes([0xFF, out_rst])
                pred = [0] * nc
            for ci in range(nc):
                hs, vs = samps[ci]
                rows = zz_planes[ci]
                for by in range(vs):
                    for bx in range(hs):
                        zz = rows[my * vs + by][mx * hs + bx]
                        if ci == 0:
                            _encode_block_zz(
                                writer, zz, dc_l, ac_l, pred, ci
                            )
                        else:
                            _encode_block_zz(
                                writer, zz, dc_c, ac_c, pred, ci
                            )
            mcu_idx += 1
    writer.flush()
    out += writer.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# --- progressive encoder (T.81 Annex G) ---------------------------------------


def _quantize_coefs(planes, qts, samps, h, w):
    """Quantized zigzag coefficient arrays per component on the
    MCU-padded grid — the SAME whole-plane ``_quantize_plane_zz``
    the baseline encoder runs, so a progressive stream carries
    bit-identical coefficients to the baseline stream (the round-trip
    pin the pytest leans on)."""
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    mcux = _ceil_div(w, 8 * hmax)
    mcuy = _ceil_div(h, 8 * vmax)
    coefs = []
    for p, (hs, vs), q in zip(planes, samps, qts):
        by, bx = mcuy * vs, mcux * hs
        padded = _pad_plane(p, by * 8, bx * 8)
        coefs.append(_quantize_plane_zz(padded, q))
    return coefs, mcux, mcuy


class _ProgressiveScanWriter:
    """Entropy writer for one progressive scan: EOB-run accumulation
    plus the two correction-bit buffers of the AC-refinement
    procedure (run-level and block-level, emitted in the T.81 G.1.2.3
    order: EOBRUN code, run bits, symbol, sign, block bits)."""

    def __init__(self, ac_tbl=None):
        self.w = _BitWriter()
        self.ac_tbl = ac_tbl
        self.eobrun = 0
        self.run_bits: list[int] = []

    def emit_symbol(self, tbl, sym):
        length, code = tbl[sym]
        self.w.write(code, length)

    def flush_eobrun(self):
        if self.eobrun > 0:
            nbits = self.eobrun.bit_length() - 1
            self.emit_symbol(self.ac_tbl, nbits << 4)
            if nbits:
                self.w.write(self.eobrun - (1 << nbits), nbits)
            self.eobrun = 0
        for b in self.run_bits:
            self.w.write(b, 1)
        self.run_bits = []

    def finish(self) -> bytes:
        if self.ac_tbl is not None:
            self.flush_eobrun()
        self.w.flush()
        return bytes(self.w.out)


def _sos_header(comp_specs, ss, se, ah, al) -> bytes:
    body = bytes([len(comp_specs)])
    for cid, td, ta in comp_specs:
        body += bytes([cid, (td << 4) | ta])
    body += bytes([ss, se, (ah << 4) | al])
    return _seg(0xDA, body)


def _encode_dc_scan(coefs, comps_meta, mcux, mcuy, dc_tbls, ah, al) -> bytes:
    """DC scan, all components interleaved: first pass (Ah=0)
    diff-codes the point-transformed DC; refinement emits one raw
    bit per block (G.1.2.1)."""
    sw = _ProgressiveScanWriter()
    pred = [0] * len(coefs)
    dc_planes = [zz[:, :, 0].tolist() for zz in coefs]
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, (dcp, (hs, vs)) in enumerate(zip(dc_planes, comps_meta)):
                for by in range(vs):
                    for bx in range(hs):
                        dc = dcp[my * vs + by][mx * hs + bx]
                        if ah == 0:
                            v = dc >> al  # arithmetic shift (G.1.2.1)
                            diff = v - pred[ci]
                            pred[ci] = v
                            t = abs(diff).bit_length()
                            sw.emit_symbol(dc_tbls[ci], t)
                            if t:
                                sw.w.write(
                                    diff if diff > 0
                                    else diff + (1 << t) - 1,
                                    t,
                                )
                        else:
                            sw.w.write((dc >> al) & 1, 1)
    return sw.finish()


def _encode_ac_first_scan(zz, bw, bh, ac_tbl, ss, se, al) -> bytes:
    """AC first scan (Ah=0) for one component: magnitude point
    transform (sign · (|v| >> Al)), run/size coding, EOB runs."""
    sw = _ProgressiveScanWriter(ac_tbl)
    # slice the component's block RECTANGLE before flattening: the
    # coef array is MCU-grid padded and can be wider than bw
    rows = zz[:bh, :bw].reshape(bh * bw, 64).tolist()
    for bi in range(bh * bw):
        band = rows[bi][ss : se + 1]
        vals = [
            (abs(v) >> al) * (1 if v >= 0 else -1) for v in band
        ]
        nz = [i for i, v in enumerate(vals) if v]
        if not nz:
            sw.eobrun += 1
            if sw.eobrun == 0x7FFF:
                sw.flush_eobrun()
            continue
        sw.flush_eobrun()
        r = 0
        for i in range(nz[-1] + 1):
            v = vals[i]
            if v == 0:
                r += 1
                continue
            while r > 15:
                sw.emit_symbol(ac_tbl, 0xF0)  # ZRL
                r -= 16
            s = abs(v).bit_length()
            sw.emit_symbol(ac_tbl, (r << 4) | s)
            sw.w.write(v if v > 0 else v + (1 << s) - 1, s)
            r = 0
        if nz[-1] < len(vals) - 1:
            sw.eobrun += 1
            if sw.eobrun == 0x7FFF:
                sw.flush_eobrun()
    return sw.finish()


def _encode_ac_refine_scan(zz, bw, bh, ac_tbl, ss, se, al) -> bytes:
    """AC refinement scan (Ah=Al+1) for one component — the
    correction-bit procedure of T.81 G.1.2.3 (the libjpeg
    encode_mcu_AC_refine control flow, re-derived from the spec)."""
    sw = _ProgressiveScanWriter(ac_tbl)
    rows = zz[:bh, :bw].reshape(bh * bw, 64).tolist()
    for bi in range(bh * bw):
        band = rows[bi][ss : se + 1]
        absv = [abs(v) >> al for v in band]
        newly = [i for i, t in enumerate(absv) if t == 1]
        eobpos = newly[-1] if newly else -1
        r = 0
        blk_bits: list[int] = []
        for i, t in enumerate(absv):
            if t == 0:
                r += 1
                continue
            while r > 15 and i <= eobpos:
                sw.flush_eobrun()
                sw.emit_symbol(ac_tbl, 0xF0)
                for b in blk_bits:
                    sw.w.write(b, 1)
                blk_bits = []
                r -= 16
            if t > 1:  # already nonzero: buffered correction bit
                blk_bits.append(t & 1)
                continue
            # newly nonzero this pass: (r, 1) symbol + sign bit
            sw.flush_eobrun()
            sw.emit_symbol(ac_tbl, (r << 4) | 1)
            sw.w.write(1 if band[i] > 0 else 0, 1)
            for b in blk_bits:
                sw.w.write(b, 1)
            blk_bits = []
            r = 0
        if r > 0 or blk_bits:
            sw.eobrun += 1
            sw.run_bits.extend(blk_bits)
            if sw.eobrun == 0x7FFF or len(sw.run_bits) > 900:
                sw.flush_eobrun()
    return sw.finish()


def encode_jpeg_progressive(
    img: np.ndarray, quality: int = 50, subsampling: str = "444"
) -> bytes:
    """Progressive JPEG (SOF2) from uint8 (h, w) grayscale or
    (h, w, 3) RGB.  Same quantized coefficients as :func:`encode_jpeg`
    (bit-identical decode), serialized with the canonical simple
    progression: interleaved DC first (Al=1), per-component AC first
    scans (Ss=1..63, Al=1) with EOB-run coding, per-component AC
    refinement (Ah=1, Al=0), interleaved DC refinement — exercising
    every Annex G scan kind a real web-crawl progressive file uses."""
    planes, qts, qids, samps, gray = _prep_planes(img, quality, subsampling)
    h, w = img.shape[:2]
    nc = len(planes)
    coefs, mcux, mcuy = _quantize_coefs(planes, qts, samps, h, w)

    out = bytearray(b"\xff\xd8")
    out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    zz_l = np.asarray(
        qts[0].reshape(64)[_ZIGZAG], dtype=np.uint8
    ).tobytes()
    out += _seg(0xDB, b"\x00" + zz_l)
    if not gray:
        zz_c = np.asarray(
            qts[1].reshape(64)[_ZIGZAG], dtype=np.uint8
        ).tobytes()
        out += _seg(0xDB, b"\x01" + zz_c)
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for i in range(nc):
        hs, vs = samps[i]
        sof += struct.pack(">BBB", i + 1, (hs << 4) | vs, qids[i])
    out += _seg(0xC2, sof)  # SOF2: progressive

    def dht(tc, th, bits, vals):
        return _seg(
            0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
        )

    out += dht(0, 0, _DC_LUMA_BITS, _DC_LUMA_VALS)
    out += dht(1, 0, _AC_PROG_BITS, _AC_PROG_VALS)
    if not gray:
        out += dht(0, 1, _DC_CHROMA_BITS, _DC_CHROMA_VALS)
        out += dht(1, 1, _AC_PROG_BITS, _AC_PROG_VALS)

    dc_l = _build_encode_table(_DC_LUMA_BITS, _DC_LUMA_VALS)
    dc_c = _build_encode_table(_DC_CHROMA_BITS, _DC_CHROMA_VALS)
    ac_p = _build_encode_table(_AC_PROG_BITS, _AC_PROG_VALS)
    dc_tbls = [dc_l] + [dc_c] * (nc - 1)
    ac_tbls = [ac_p] * nc

    # scan 1: DC first, all components interleaved, Al=1
    all_specs = [
        (i + 1, 0 if i == 0 else 1, 0 if i == 0 else 1)
        for i in range(nc)
    ]
    out += _sos_header(all_specs, 0, 0, 0, 1)
    out += _encode_dc_scan(coefs, samps, mcux, mcuy, dc_tbls, 0, 1)
    # per-component AC first scans (non-interleaved, Al=1)
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    dims = []
    for hs, vs in samps:
        bw = _ceil_div(_ceil_div(w * hs, hmax), 8)
        bh = _ceil_div(_ceil_div(h * vs, vmax), 8)
        dims.append((bw, bh))
    for ci in range(nc):
        bw, bh = dims[ci]
        out += _sos_header([all_specs[ci]], 1, 63, 0, 1)
        out += _encode_ac_first_scan(
            coefs[ci], bw, bh, ac_tbls[ci], 1, 63, 1
        )
    # per-component AC refinement scans (Ah=1, Al=0)
    for ci in range(nc):
        bw, bh = dims[ci]
        out += _sos_header([all_specs[ci]], 1, 63, 1, 0)
        out += _encode_ac_refine_scan(
            coefs[ci], bw, bh, ac_tbls[ci], 1, 63, 0
        )
    # final scan: DC refinement, interleaved, Ah=1 Al=0
    out += _sos_header(all_specs, 0, 0, 1, 0)
    out += _encode_dc_scan(coefs, samps, mcux, mcuy, dc_tbls, 1, 0)
    out += b"\xff\xd9"
    return bytes(out)
