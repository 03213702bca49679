"""JPEG (JFIF) codecs — dependency-free, real, ITU T.81.

Five codecs: baseline sequential grayscale and 4:2:0 YCbCr color,
progressive (SOF2) grayscale and color, and arithmetic-coded SOF9
grayscale (its QM entropy layer lives in ops/jpeg_arith.py). They share
one container layer:

- ``_jfif``/``_sos``: the one writer of SOI/APP0/DQT/DAC/SOF/DHT/DRI
  headers and scan headers;
- ``_read_jpeg``: the one marker reader — segment lengths honored and
  checked, unknown APPn/COM skipped, DQT/DHT/DAC/DRI/SOF state held in a
  ``_Frame``, a yield at each SOS — driven by ``_decode``, which
  entropy-decodes each scan for the frame kind and turns corrupt input
  into ``ValueError`` (unsupported shapes: ``NotImplementedError``);
- ``_scan_order``: the one scan-order walk (interleaved MCU order, or a
  component's own raster) encoders and decoders both follow.

Entropy layers: quantized-coefficient blocks -> zigzag -> DC
prediction -> category/magnitude coding -> canonical Huffman (Annex K
standard tables; fixed-length tables with EOBn symbols for progressive
spectral selection + successive approximation) -> byte-stuffed stream
with optional restart markers; decoded by a table-driven bit reader
with 0xFF00 unstuffing and RSTn handling. Pixels: dequantize, exact
float 2-D IDCT (orthonormal DCT-III via a precomputed 8x8 cosine
matrix, vectorized across all blocks), level shift + clamp; color adds
chroma upsampling and BT.601 YCbCr->RGB.

Oracle strategy (JPEG is lossy, so "decoded pixels == source pixels"
is not a lawful oracle): the *entropy layer* is exactly invertible —
the decoder recovers the encoder's quantized coefficients bit-for-bit.
Payload synthesis derives those coefficients from ``doc_id`` with pure
integer arithmetic, so DuckDB recomputes them independently and the
whole encode -> container bytes -> Huffman decode -> de-zigzag ->
DC-undiff pipeline is hash-oracled (multimodal_real.py). Pixel-level
exactness is pinned separately where the math is exact: a DC-only
block with q_dc = 8 decodes to the constant pixel dc + 128 (clamped)
with no rounding ambiguity, giving a second, pixel-level oracle; the
general IDCT is property-tested against a naive O(N^4) reference.

100 TB shape: decode is per-row independent work inside Arrow-batched
``mapInPandas`` — no shuffle, executor memory bounded by batch size x
payload size, parallelism = partition count.
"""


from __future__ import annotations

import functools
import re
import struct
from typing import NamedTuple

import numpy as np

# --- zigzag order (T.81 Figure A.6): zigzag index -> (row, col) -------------

ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]
_UNZIGZAG = np.argsort(np.array(ZIGZAG))  # natural index -> zigzag position

# --- Annex K.3 standard Huffman table specs (BITS, HUFFVAL) -----------------
# These are the public example tables from ITU T.81 / ISO 10918-1.

DC_LUM_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUM_VALS = list(range(12))

AC_LUM_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUM_VALS = [
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

# Annex K.3 chroma tables (public example tables, ITU T.81).
DC_CHR_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHR_VALS = list(range(12))

AC_CHR_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHR_VALS = [
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

# Fixed quantization tables (zigzag order). q[0] = 8 is load-bearing: it
# makes the DC-only pixel oracle exact (dequant/8 = dc_q, an integer, so
# level-shift + clamp has no rounding ambiguity). AC entries follow a
# plausible low-to-high ramp; the chroma table ramps steeper, as real
# encoders' do.
QTABLE_ZZ = [8] + [2 + (3 * z) % 38 for z in range(1, 64)]
QTABLE_CHR_ZZ = [8] + [4 + (5 * z) % 46 for z in range(1, 64)]


def _build_canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """T.81 Annex C: symbol -> (code, length) from BITS/HUFFVAL."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


_DC_CODES = _build_canonical_codes(DC_LUM_BITS, DC_LUM_VALS)
_AC_CODES = _build_canonical_codes(AC_LUM_BITS, AC_LUM_VALS)


def _magnitude_category(v: int) -> int:
    """SSSS category: number of bits to code |v| (T.81 Table F.1)."""
    a, s = abs(v), 0
    while a:
        a >>= 1
        s += 1
    return s


class _BitWriter:
    """MSB-first bit packer with JPEG byte stuffing (0xFF -> 0xFF 0x00)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def put(self, value: int, nbits: int) -> None:
        self._acc = (self._acc << nbits) | (value & ((1 << nbits) - 1))
        self._n += nbits
        while self._n >= 8:
            self._n -= 8
            b = (self._acc >> self._n) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
        self._acc &= (1 << self._n) - 1

    def flush(self) -> None:
        """Pad the final partial byte with 1-bits (T.81 F.1.2.3)."""
        if self._n:
            self.put((1 << (8 - self._n)) - 1, 8 - self._n)

    def raw_marker(self, byte2: int) -> None:
        """Emit a marker (used for RSTn) after flushing to a byte edge."""
        self.flush()
        self.out.append(0xFF)
        self.out.append(byte2)


def _encode_coeff_bits(w: _BitWriter, codes: dict, symbol: int, value: int, size: int) -> None:
    code, length = codes[symbol]
    w.put(code, length)
    if size:
        if value < 0:
            value = value - 1  # one's-complement negative coding
        w.put(value & ((1 << size) - 1), size)


def _encode_block(w: _BitWriter, blk, dc_codes: dict, ac_codes: dict, prev_dc: int) -> int:
    """Entropy-encode one 8x8 data unit (zigzag order); returns new DC."""
    dc = int(blk[0])
    diff = dc - prev_dc
    size = _magnitude_category(diff)
    _encode_coeff_bits(w, dc_codes, size, diff, size)
    run = 0
    last_nz = 0
    for z in range(1, 64):
        if blk[z]:
            last_nz = z
    for z in range(1, last_nz + 1):
        v = int(blk[z])
        if v == 0:
            run += 1
            continue
        while run > 15:
            _encode_coeff_bits(w, ac_codes, 0xF0, 0, 0)  # ZRL
            run -= 16
        size = _magnitude_category(v)
        _encode_coeff_bits(w, ac_codes, (run << 4) | size, v, size)
        run = 0
    if last_nz < 63:
        _encode_coeff_bits(w, ac_codes, 0x00, 0, 0)  # EOB
    return dc


_DC_CHR_CODES = _build_canonical_codes(DC_CHR_BITS, DC_CHR_VALS)
_AC_CHR_CODES = _build_canonical_codes(AC_CHR_BITS, AC_CHR_VALS)


class _Huffman(NamedTuple):
    """A DC + AC Huffman table pair: each table's BITS + HUFFVAL bytes as
    a DHT segment carries them, and the symbol -> (code, length) maps
    that encode with them."""

    dc_spec: bytes
    ac_spec: bytes
    dc: dict
    ac: dict


_LUM = _Huffman(
    bytes(DC_LUM_BITS + DC_LUM_VALS), bytes(AC_LUM_BITS + AC_LUM_VALS), _DC_CODES, _AC_CODES
)
_CHR = _Huffman(
    bytes(DC_CHR_BITS + DC_CHR_VALS), bytes(AC_CHR_BITS + AC_CHR_VALS),
    _DC_CHR_CODES, _AC_CHR_CODES,
)


# --- container layer: one writer, one scan-order walk, one marker reader ----

# SOFn frame markers (T.81 Table B.1: 0xC4 DHT, 0xC8 JPG, 0xCC DAC are not)
_SOF_MARKERS = frozenset(
    (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF)
)
_BASELINE, _PROGRESSIVE, _ARITHMETIC = 0xC0, 0xC2, 0xC9
# the marker ending entropy-coded data: 0xFF not followed by stuffing
# (0x00), an RSTn inside the scan, or another (fill) 0xFF
_SCAN_END = re.compile(rb"\xff[^\x00\xd0-\xd7\xff]")

# frame components as the writer emits them: (id, HV sampling, table index);
# the table index names both the DQT and the Huffman pair of a component
_GRAY = ((1, 0x11, 0),)
_YCC420 = ((1, 0x22, 0), (2, 0x11, 1), (3, 0x11, 1))

# SOI + APP0 (JFIF 1.01, 1:1 aspect, no thumbnail)
_JFIF_HEAD = b"\xff\xd8\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"


def _segment(marker: int, body: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, 2 + len(body)) + body


def _jfif(kind, width, height, comps, qtables, huff=(), dac=b"", restart_interval=0) -> bytearray:
    """The container header every encoder writes, up to its first SOS:
    SOI, APP0, one DQT (``qtables`` as ids 0..), DAC, the ``kind`` SOF
    over ``comps``, one DHT (each ``huff`` pair as DC then AC table of
    its index), DRI."""
    out = bytearray(_JFIF_HEAD)
    out += _segment(0xDB, b"".join(bytes([t]) + bytes(q) for t, q in enumerate(qtables)))
    if dac:
        out += _segment(0xCC, dac)
    sof = struct.pack(">BHHB", 8, height, width, len(comps))
    out += _segment(kind, sof + bytes(sum(comps, ())))
    if huff:
        out += _segment(0xC4, b"".join(
            bytes([t]) + h.dc_spec + bytes([0x10 | t]) + h.ac_spec
            for t, h in enumerate(huff)
        ))
    if restart_interval:
        out += _segment(0xDD, struct.pack(">H", restart_interval))
    return out


def _sos(sel, ss: int = 0, se: int = 63, ah: int = 0, al: int = 0) -> bytes:
    """SOS header; ``sel`` holds (component id, Td << 4 | Ta) per scan
    component."""
    return _segment(0xDA, bytes([len(sel), *sum(sel, ()), ss, se, (ah << 4) | al]))


@functools.lru_cache(maxsize=256)
def _grid(width: int, height: int, sampling: bytes) -> tuple:
    """(mcus_x, mcus_y, ((bw, bh, bw_nc, bh_nc), ...)) per HV sampling
    byte (T.81 A.1.1): the MCU-padded grid a component's coefficients sit
    in, and the ceil(dims/8) raster a non-interleaved scan walks."""
    hmax = max(hv >> 4 for hv in sampling)
    vmax = max(hv & 15 for hv in sampling)
    mcus_x = -(-width // (8 * hmax))
    mcus_y = -(-height // (8 * vmax))
    return mcus_x, mcus_y, tuple(
        (mcus_x * h, mcus_y * v, (-(-width * h // hmax) + 7) // 8, (-(-height * v // vmax) + 7) // 8)
        for h, v in ((hv >> 4, hv & 15) for hv in sampling)
    )


_WALKS: dict[tuple, tuple] = {}


def _scan_order(width: int, height: int, sampling: bytes, cis: tuple) -> tuple:
    """The scan-order walk (T.81 A.2) over frame components ``cis``:
    ``(units, per_mcu)``, each data unit as (position in ``cis``, block
    index), and the units per MCU that restart intervals count. One
    component is non-interleaved (one block per MCU, its own raster);
    several interleave h x v blocks of each per MCU. Small walks — every
    scan of a fixture's payloads — are kept (64 of <= 4096 units)."""
    key = (width, height, sampling, cis)
    walk = _WALKS.get(key)
    if walk is not None:
        return walk
    mcus_x, mcus_y, dims = _grid(width, height, sampling)
    if len(cis) == 1:
        bw, _, bw_nc, bh_nc = dims[cis[0]]
        walk = tuple((0, row * bw + col) for row in range(bh_nc) for col in range(bw_nc)), 1
    else:
        # per data unit of an MCU: (position, offset, MCU row stride, MCU width)
        mcu = [
            (k, by * dims[ci][0] + bx, (sampling[ci] & 15) * dims[ci][0], sampling[ci] >> 4)
            for k, ci in enumerate(cis)
            for by in range(sampling[ci] & 15)
            for bx in range(sampling[ci] >> 4)
        ]
        walk = tuple(
            (k, my * stride + mx * h + off)
            for my in range(mcus_y)
            for mx in range(mcus_x)
            for k, off, stride, h in mcu
        ), len(mcu)
    if len(walk[0]) <= 4096:
        if len(_WALKS) >= 64:
            _WALKS.clear()
        _WALKS[key] = walk
    return walk


class _Frame:
    """The marker reader's state: the SOF header, the component dicts
    (id, h, v, tq, ``bw`` x ``bh`` grid, ``coeffs``) and every table read
    so far. A frame check sees the SOF fields before ``comps`` exist."""

    kind = 0  # SOFn marker byte; 0 until the SOF is read
    precision = width = height = restart_interval = 0
    comps: tuple | list = ()  # component dicts, built from the SOF
    ids = sampling = b""  # per component: id, HV byte

    def __init__(self) -> None:
        self.qtables: dict[int, bytes] = {}
        self.dc_luts: dict[int, list] = {}
        self.ac_luts: dict[int, list] = {}
        self.dac: dict[tuple[int, int], int] = {}  # (Tc, Tb) -> conditioning


class _Scan(NamedTuple):
    cis: tuple  # indices of the scan's components in the frame, scan order
    tables: tuple  # (DC, AC) table selectors per scan component
    ss: int
    se: int
    ah: int
    al: int


def _read_jpeg(payload: bytes, check=None):
    """The one JPEG marker reader: walks the segments from SOI into a
    :class:`_Frame` and yields ``(frame, scan, pos)`` at each SOS; the
    caller decodes the entropy-coded data at ``pos`` before resuming.
    ``check(frame)`` runs once the SOF is read, so an entry point refuses
    a frame kind or component count before any grid is allocated."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    f = _Frame()
    pos = 2
    n = len(payload)
    n_scans = 0
    while pos + 1 < n:
        if payload[pos] != 0xFF:
            raise ValueError("marker expected (corrupt JPEG stream)")
        marker = payload[pos + 1]
        if marker == 0xD9:
            if not n_scans:
                raise ValueError("EOI before SOS")
            return
        end = pos + 2 + (payload[pos + 2] << 8 | payload[pos + 3]) if pos + 3 < n else n + 1
        if not pos + 4 <= end <= n:  # the length field counts itself
            raise ValueError(f"truncated segment 0xFF{marker:02X}")
        seg = payload[pos + 4 : end]
        pos = end
        if marker == 0xDB:
            _read_dqt(f, seg)
        elif marker == 0xC4:
            for tc, th, lut in _read_dht(seg):
                (f.ac_luts if tc else f.dc_luts)[th] = lut
        elif marker == 0xCC:  # DAC: arithmetic conditioning per table
            if len(seg) % 2:
                raise ValueError("malformed DAC segment")
            for i in range(0, len(seg), 2):
                f.dac[seg[i] >> 4, seg[i] & 15] = seg[i + 1]
        elif marker == 0xDD:
            if len(seg) != 2:
                raise ValueError("malformed DRI segment")
            f.restart_interval = int.from_bytes(seg, "big")
        elif marker in _SOF_MARKERS:
            _read_sof(f, marker, seg, check, n)
        elif marker == 0xDA:
            if not f.kind:
                raise ValueError("SOS before SOF")
            if n_scans and f.kind != _PROGRESSIVE:
                raise ValueError("more than one scan in a sequential frame")
            yield f, _read_sos(seg, f.ids), pos
            n_scans += 1
            # JPEG has no entropy checksum and a decoder pads past
            # end-of-data with 1-bits: a truncated scan shows here, as
            # entropy-coded data that no marker ends
            m = _SCAN_END.search(payload, pos)
            if m is None:
                raise ValueError("truncated JPEG (missing EOI)")
            pos = m.start()
        # APPn / COM / anything else: skipped by its declared length
    raise ValueError("truncated JPEG (missing EOI)" if n_scans else "no SOS marker")


def _read_dqt(f: _Frame, seg: bytes) -> None:
    i = 0
    while i < len(seg):  # several tables per segment
        if seg[i] >> 4:
            raise ValueError("16-bit quant tables unsupported")
        if i + 65 > len(seg):
            raise ValueError("truncated DQT table")
        f.qtables[seg[i] & 15] = seg[i + 1 : i + 65]
        i += 65


@functools.lru_cache(maxsize=16)
def _read_dht(seg: bytes) -> tuple:
    """(Tc, Th, decode LUT) per table of a DHT segment. Cached: every
    payload of a fixture repeats the same DHT segment."""
    tables = []
    i = 0
    while i < len(seg):  # several tables per segment
        tc, th = seg[i] >> 4, seg[i] & 15
        n = 16 + sum(seg[i + 1 : i + 17])
        spec = seg[i + 1 : i + 1 + n]  # BITS + HUFFVAL
        if tc > 1 or len(spec) != n or n == 16:
            raise ValueError("malformed DHT segment")
        if tc == 0 and max(spec[16:]) > 15:
            raise ValueError("DC Huffman symbol beyond category 15")
        tables.append((tc, th, _build_decode_lut(spec)))
        i += 1 + n
    return tuple(tables)


def _read_sof(f: _Frame, kind: int, seg: bytes, check, n_bytes: int) -> None:
    """The frame header, then one coefficient grid per component. The
    SOF's dimensions are untrusted: a Huffman frame codes every block in
    at least one bit, so one that claims more blocks than ``n_bytes``
    (the whole payload) can hold is refused before any allocation."""
    if f.kind:
        raise ValueError("multiple frames")
    if len(seg) < 6 or len(seg) != 6 + 3 * seg[5]:
        raise ValueError("malformed SOF segment")
    f.kind, f.precision = kind, seg[0]
    f.height = int.from_bytes(seg[1:3], "big")
    f.width = int.from_bytes(seg[3:5], "big")
    f.ids, f.sampling = seg[6::3], seg[7::3]
    if check is not None:
        check(f)
    if kind not in (_BASELINE, _PROGRESSIVE, _ARITHMETIC):
        raise NotImplementedError(f"SOF 0xFF{kind:02X} frames unsupported")
    if f.precision != 8 or seg[5] not in (1, 3):
        raise NotImplementedError("only 8-bit 1- or 3-component JPEG supported")
    if not (f.width and f.height):
        raise ValueError("zero image dimension")
    if seg[5] == 1:  # a lone component's MCU is one block
        f.sampling = b"\x11"
    else:
        if len(set(f.ids)) != 3:
            raise ValueError("duplicate component id")
        if not set(f.sampling) <= {0x11, 0x12, 0x21, 0x22}:
            raise NotImplementedError("sampling factors beyond 2")
    dims = _grid(f.width, f.height, f.sampling)[2]
    if kind != _ARITHMETIC and sum(bw * bh for bw, bh, _, _ in dims) > 8 * n_bytes:
        raise ValueError(f"SOF claims {f.width}x{f.height}, more blocks than the payload codes")
    f.comps = [
        {"id": i, "h": hv >> 4, "v": hv & 15, "tq": tq, "bw": bw, "bh": bh,
         "coeffs": np.zeros((bh * bw, 64), dtype=np.int64)}
        for i, hv, tq, (bw, bh, _, _) in zip(f.ids, f.sampling, seg[8::3], dims)
    ]


@functools.lru_cache(maxsize=256)
def _read_sos(seg: bytes, ids: bytes) -> _Scan:
    """SOS header against the frame's component ``ids``. Cached: every
    payload of a fixture repeats the same few scan headers."""
    ns = seg[0] if seg else 0
    if not ns or len(seg) != 4 + 2 * ns:
        raise ValueError("malformed SOS segment")
    cis = tuple(ids.find(i) for i in seg[1 : 1 + 2 * ns : 2])
    if -1 in cis or len(set(cis)) != ns:
        raise ValueError("scan references unknown component")
    sels = seg[2 : 2 + 2 * ns : 2]
    return _Scan(
        cis, tuple((t >> 4, t & 15) for t in sels),
        seg[-3], seg[-2], seg[-1] >> 4, seg[-1] & 15,
    )


def _decode(payload: bytes, check=None) -> _Frame:
    """Every JPEG decode's one path: the marker reader, each scan's
    entropy decode for the frame kind, then the frame's quant tables.
    Out-of-range reads of a corrupt or truncated stream surface as
    ``ValueError``, like every check the reader makes."""
    try:
        for f, scan, pos in _read_jpeg(payload, check):
            if f.kind == _ARITHMETIC:
                from sim_spark.ops.jpeg_arith import _decode_arith_scan

                _decode_arith_scan(payload, f, scan, pos)
            else:
                _decode_huffman_scan(payload, f, scan, pos)
    except IndexError as e:
        raise ValueError(f"truncated or corrupt JPEG: {e!r}") from e
    except _Restart as e:  # stray RSTn outside an interval boundary
        raise ValueError("unexpected restart marker in scan") from e
    for c in f.comps:
        if c["tq"] not in f.qtables:
            raise ValueError(f"SOF references missing quant table {c['tq']}")
        c["q"] = np.frombuffer(f.qtables[c["tq"]], dtype=np.uint8).astype(np.int64)
    return f


# --- baseline sequential encode ---------------------------------------------


@functools.lru_cache(maxsize=16)
def _spec_scan(spec: tuple) -> tuple:
    """(HV sampling bytes, component indices, SOS header of one scan over
    all of them) for a writer component spec."""
    sel = [(cid, t << 4 | t) for cid, _, t in spec]
    return bytes(hv for _, hv, _ in spec), tuple(range(len(spec))), _sos(sel)


def _encode_sequential(
    width: int, height: int, spec, qtables, huff, blocks, restart_interval: int
) -> bytes:
    """Baseline (SOF0) stream: one scan over every ``spec`` component
    (interleaved when there are several), per-component DC predictors,
    and RSTn every ``restart_interval`` MCUs resetting them all.
    ``blocks[ci]`` holds component ci's quantized zigzag coefficients,
    raster order over its MCU-padded block grid."""
    sampling, cis, sos = _spec_scan(spec)
    out = _jfif(_BASELINE, width, height, spec, qtables, huff, restart_interval=restart_interval)
    out += sos
    codes = [huff[t] for _, _, t in spec]
    units, per_mcu = _scan_order(width, height, sampling, cis)
    span = restart_interval * per_mcu or len(units)
    w = _BitWriter()
    pred = [0] * len(spec)
    for start in range(0, len(units), span):  # one restart interval each
        if start:
            w.raw_marker(0xD0 + (start // span - 1) % 8)
            pred = [0] * len(spec)  # RST resets the DC predictors
        for ci, b in units[start : start + span]:
            h = codes[ci]
            pred[ci] = _encode_block(w, blocks[ci][b], h.dc, h.ac, pred[ci])
    w.flush()
    return bytes(out + w.out + b"\xff\xd9")


def encode_jpeg_from_coeffs(
    wb: int,
    hb: int,
    coeffs_zz: np.ndarray,
    qtable_zz: list[int] = QTABLE_ZZ,
    restart_interval: int = 0,
) -> bytes:
    """Quantized coefficients -> baseline JFIF bytes.

    ``coeffs_zz``: int array (hb*wb, 64) in ZIGZAG order, blocks in
    raster order. Image is exactly (wb*8) x (hb*8) pixels, grayscale.
    ``restart_interval`` > 0 emits DRI and RSTn every that many MCUs
    (one MCU = one block for a non-subsampled single component).
    """
    assert coeffs_zz.shape == (wb * hb, 64)
    return _encode_sequential(
        wb * 8, hb * 8, _GRAY, [qtable_zz], [_LUM], [coeffs_zz], restart_interval
    )


def encode_jpeg_color_from_coeffs(
    mcus_x: int,
    mcus_y: int,
    y_coeffs_zz: np.ndarray,
    cb_coeffs_zz: np.ndarray,
    cr_coeffs_zz: np.ndarray,
    restart_interval: int = 0,
) -> bytes:
    """Quantized per-component coefficients -> baseline 4:2:0 YCbCr JFIF.

    Y is 2x2-sampled: ``y_coeffs_zz`` has (mcus_y*2 * mcus_x*2, 64)
    blocks (raster order over the full Y block grid); Cb/Cr have
    (mcus_y * mcus_x, 64). Image is exactly (mcus_x*16) x (mcus_y*16).
    Luma uses the Annex K luminance Huffman pair + QTABLE_ZZ (table 0),
    chroma the chrominance pair + QTABLE_CHR_ZZ (table 1) — the layout
    real encoders emit. Scan is MCU-interleaved: Y00 Y01 Y10 Y11 Cb Cr
    per MCU, per-component DC predictors, RSTn every
    ``restart_interval`` MCUs resetting all three.
    """
    assert y_coeffs_zz.shape == (mcus_y * 2 * mcus_x * 2, 64)
    assert cb_coeffs_zz.shape == cr_coeffs_zz.shape == (mcus_y * mcus_x, 64)
    return _encode_sequential(
        mcus_x * 16, mcus_y * 16, _YCC420, [QTABLE_ZZ, QTABLE_CHR_ZZ], [_LUM, _CHR],
        [y_coeffs_zz, cb_coeffs_zz, cr_coeffs_zz], restart_interval,
    )


# --- decoder ----------------------------------------------------------------


class _BitReader:
    """Buffered MSB-first bit reader over an entropy-coded segment with
    0xFF00 unstuffing; raises _Restart at RSTn markers. `peek16`/`skip`
    support the table-driven fast Huffman path: peeking past the real
    end of the segment (at EOI or end-of-data) yields 1-bit padding
    WITHOUT consuming, which mirrors the encoder's 1-padded final byte
    and is only ever consumed as pad (the block loop stops exactly at
    n_blocks)."""

    __slots__ = ("data", "pos", "_acc", "_n")

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self._acc = 0
        self._n = 0

    def _fill8(self, pad: bool) -> None:
        if self.pos < len(self.data):
            b = self.data[self.pos]
            if b == 0xFF:
                nxt = self.data[self.pos + 1]
                if nxt == 0x00:
                    self.pos += 2
                    self._acc = (self._acc << 8) | 0xFF
                    self._n += 8
                    return
                if pad:
                    # Any marker (RSTn, EOI, next header) ends the
                    # entropy run mid-peek: yield 1-padding WITHOUT
                    # consuming — the block loop consumes RSTn at its
                    # interval boundary via align_past_restart.
                    self._acc = (self._acc << 8) | 0xFF
                    self._n += 8
                    return
                if 0xD0 <= nxt <= 0xD7:
                    raise _Restart(nxt)
                raise ValueError(f"unexpected marker 0xFF{nxt:02X} in scan")
            self.pos += 1
            self._acc = (self._acc << 8) | b
            self._n += 8
            return
        if pad:
            self._acc = (self._acc << 8) | 0xFF
            self._n += 8
            return
        raise ValueError("truncated entropy segment")

    def peek16(self) -> int:
        while self._n < 16:
            self._fill8(pad=True)
        return (self._acc >> (self._n - 16)) & 0xFFFF

    def skip(self, n: int) -> None:
        self._n -= n
        self._acc &= (1 << self._n) - 1

    def bits(self, n: int) -> int:
        if n == 0:
            return 0
        while self._n < n:
            self._fill8(pad=False)
        self._n -= n
        v = (self._acc >> self._n) & ((1 << n) - 1)
        self._acc &= (1 << self._n) - 1
        return v

    def bit(self) -> int:
        return self.bits(1)

    def align_past_restart(self) -> None:
        """Discard partial bits and consume the RSTn marker. Corrupt
        streams reach here with something other than RSTn at the
        interval boundary — that must surface as the typed decode error
        (never AssertionError, never stripped under -O)."""
        self._n = 0
        self._acc = 0
        if not (
            self.pos + 1 < len(self.data)
            and self.data[self.pos] == 0xFF
            and 0xD0 <= self.data[self.pos + 1] <= 0xD7
        ):
            raise ValueError("missing or malformed restart marker")
        self.pos += 2


class _Restart(Exception):
    def __init__(self, marker: int) -> None:
        self.marker = marker


_LUT_CACHE: dict[bytes, list] = {}


def _build_decode_lut(spec: bytes) -> list:
    """16-bit-prefix lookup table: lut[peek16] = (symbol << 5) | code_len,
    -1 for prefixes no code owns. One table per distinct BITS + HUFFVAL
    spec, cached process-wide — every payload of a fixture shares the
    same DHT, so the 65536-entry build cost is paid once, and Huffman
    decode becomes a single list index + shift per symbol instead of a
    bit-by-bit tree walk (the r11 fast path: ~4x on the sf1 bench).
    The cache holds at most 64 specs: streams with per-image optimized
    tables must not grow it without bound."""
    lut = _LUT_CACHE.get(spec)
    if lut is not None:
        return lut
    bits, vals = spec[:16], spec[16:]
    lut = [-1] * 65536
    code = 0
    k = 0
    for length in range(1, 17):
        if code + bits[length - 1] > 1 << length:
            raise ValueError("over-subscribed Huffman table")
        for _ in range(bits[length - 1]):
            lo = code << (16 - length)
            entry = (vals[k] << 5) | length
            lut[lo : lo + (1 << (16 - length))] = [entry] * (1 << (16 - length))
            code += 1
            k += 1
        code <<= 1
    if len(_LUT_CACHE) >= 64:
        _LUT_CACHE.clear()
    _LUT_CACHE[spec] = lut
    return lut


def _huff_decode(r: _BitReader, lut: list) -> int:
    v = lut[r.peek16()]
    if v < 0:
        raise ValueError("invalid Huffman code")
    r.skip(v & 31)
    return v >> 5


def _extend(v: int, size: int) -> int:
    """T.81 F.2.2.1 EXTEND: map `size`-bit magnitude to signed value."""
    if size == 0:
        return 0
    if v < (1 << (size - 1)):
        return v - (1 << size) + 1
    return v


_IDCT_COS = np.array(
    [
        [
            (np.sqrt(1 / 8) if u == 0 else np.sqrt(2 / 8))
            * np.cos((2 * x + 1) * u * np.pi / 16)
            for u in range(8)
        ]
        for x in range(8)
    ]
)


def idct2_blocks(coeffs: np.ndarray) -> np.ndarray:
    """Exact orthonormal 2-D IDCT over (n, 8, 8) dequantized blocks,
    vectorized with one einsum — no per-block Python loop."""
    return np.einsum("xu,nuv,yv->nxy", _IDCT_COS, coeffs, _IDCT_COS)


def _decode_block_into(r, row, dc_lut, ac_lut, prev_dc: int) -> int:
    """Huffman-decode one 8x8 data unit into `row` (a length-64 int64
    view, zigzag order); returns the new DC predictor."""
    size = _huff_decode(r, dc_lut)
    prev_dc = prev_dc + _extend(r.bits(size), size)
    row[0] = prev_dc
    z = 1
    while z < 64:
        sym = _huff_decode(r, ac_lut)
        if sym == 0x00:  # EOB
            break
        if sym == 0xF0:  # ZRL
            z += 16
            continue
        run, size = sym >> 4, sym & 15
        z += run
        row[z] = _extend(r.bits(size), size)
        z += 1
    return prev_dc


def _luts(luts: dict, ts) -> list:
    """The Huffman tables ``ts`` a scan selects, each defined by a DHT."""
    try:
        return [luts[t] for t in ts]
    except KeyError as e:
        raise ValueError(f"scan references undefined Huffman table {e}") from None


def _decode_huffman_scan(payload: bytes, f: _Frame, scan: _Scan, pos: int) -> None:
    """Entropy-decode one Huffman scan, its data starting at ``pos``, into
    its components' coefficient grids: a baseline sequential scan (all
    components, restart intervals honored), or one progressive scan —
    DC first or refine (interleaved or not), or one component's AC band
    first or refine."""
    cis, ss, se, ah, al = scan.cis, scan.ss, scan.se, scan.ah, scan.al
    grids = [f.comps[ci]["coeffs"] for ci in cis]
    units, per_mcu = _scan_order(f.width, f.height, f.sampling, cis)
    r = _BitReader(payload, pos)
    pred = [0] * len(cis)
    if f.kind == _BASELINE:
        if len(cis) != len(f.comps):
            raise NotImplementedError("partial-component scan")
        dcl = _luts(f.dc_luts, [td for td, _ in scan.tables])
        acl = _luts(f.ac_luts, [ta for _, ta in scan.tables])
        span = f.restart_interval * per_mcu or len(units)
        for start in range(0, len(units), span):  # one restart interval each
            if start:
                r.align_past_restart()
                pred = [0] * len(cis)  # RST resets the DC predictors
            for ci, b in units[start : start + span]:
                pred[ci] = _decode_block_into(r, grids[ci][b], dcl[ci], acl[ci], pred[ci])
        return
    if f.restart_interval:
        raise NotImplementedError("restart markers in progressive scans")
    if ss > se or se > 63 or (ss == 0) != (se == 0):
        raise ValueError("invalid spectral band")
    if len(cis) > 1 and ss:
        raise ValueError("progressive AC scans must be single-component")
    if ss == 0 and ah == 0:  # DC first: predicted, point-transformed
        dcl = _luts(f.dc_luts, [td for td, _ in scan.tables])
        for ci, b in units:
            size = _huff_decode(r, dcl[ci])
            pred[ci] += _extend(r.bits(size), size)
            grids[ci][b, 0] = pred[ci] << al
    elif ss == 0:  # DC refine: one bit per block
        bit = 1 << al
        for ci, b in units:
            if r.bit():
                grids[ci][b, 0] |= bit
    else:  # one component's AC band
        grid, (lut,) = grids[0], _luts(f.ac_luts, [scan.tables[0][1]])
        dec = _p_dec_ac_first if ah == 0 else _p_dec_ac_refine
        eobrun = 0
        for _, b in units:
            eobrun = dec(r, lut, grid[b], ss, se, al, eobrun)


def _idct_plane(comp: dict) -> np.ndarray:
    """Dequantize + IDCT one component's blocks into its (bh*8, bw*8)
    sample plane (level-shifted, clamped)."""
    coeffs, q, bw, bh = comp["coeffs"], comp["q"], comp["bw"], comp["bh"]
    deq = (coeffs * q)[:, _UNZIGZAG].reshape(-1, 8, 8).astype(np.float64)
    px = np.rint(idct2_blocks(deq) + 128.0)
    px = np.clip(px, 0, 255)
    return px.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)


def _gray(f: _Frame):
    """(width, height, pixels, coeffs) of a decoded one-component frame."""
    c = f.comps[0]
    img = _idct_plane(c)[: f.height, : f.width].astype(np.uint8)
    return f.width, f.height, img.reshape(-1), c["coeffs"]


def _color(f: _Frame):
    """Per-plane dequant+IDCT, chroma upsample, BT.601 YCbCr->RGB of a
    decoded three-component frame — the scan structure never changes
    the reconstruction math."""
    hmax = max(c["h"] for c in f.comps)
    vmax = max(c["v"] for c in f.comps)
    planes = []
    for c in f.comps:
        p = _idct_plane(c)
        # nearest-neighbor upsample to the full MCU grid
        p = np.repeat(np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        planes.append(p[: f.height, : f.width])
    y, cb, cr = (pl.astype(np.float64) for pl in planes)
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.clip(np.rint(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)
    return f.width, f.height, rgb.reshape(-1), [c["coeffs"] for c in f.comps]


def _decode_any(payload: bytes):
    """Any supported JPEG — baseline, progressive or arithmetic, gray or
    color — in one read: the frame kind picks the entropy decoder, the
    component count gray pixels or RGB. Returns (width, height, pixels,
    coeffs) like the entry point that frame belongs to."""
    f = _decode(payload)
    return _color(f) if len(f.comps) == 3 else _gray(f)


def _sof0_gray(f: _Frame) -> None:
    if f.kind != _BASELINE:
        raise NotImplementedError("non-baseline SOF marker")
    if len(f.ids) == 3:
        raise NotImplementedError(
            "decode_jpeg is the grayscale entry point; use decode_jpeg_color"
        )


def _sof0_color(f: _Frame) -> None:
    if f.kind != _BASELINE:
        raise NotImplementedError("non-baseline SOF marker")
    if len(f.ids) == 1:
        raise ValueError("decode_jpeg_color expects a 3-component scan")


def decode_jpeg(payload: bytes):
    """Baseline JFIF grayscale decode.

    Returns ``(width, height, pixels, coeffs_zz)`` where ``pixels`` is
    a uint8 array of length width*height (raster order, MCU padding
    cropped) and ``coeffs_zz`` is the recovered QUANTIZED coefficient
    array (n_blocks, 64) in zigzag order — the exactly-invertible
    entropy-layer output the hash oracle checks.
    """
    return _gray(_decode(payload, _sof0_gray))


def decode_jpeg_color(payload: bytes):
    """Baseline JFIF color decode (any 1/2-factor sampling incl. 4:2:0).

    Returns ``(width, height, rgb, coeffs_list)`` — rgb a uint8 array of
    length width*height*3 (raster order, BT.601 YCbCr->RGB with
    round-half-away clamp), coeffs_list the per-component recovered
    QUANTIZED coefficient arrays (Y, Cb, Cr) the hash oracle checks.
    """
    return _color(_decode(payload, _sof0_color))


# --- progressive (SOF2) grayscale (r12) -------------------------------------
# Spectral selection + successive approximation, the shape a large share
# of web JPEGs use. Coefficients are recovered losslessly regardless of
# scan structure, so the SAME coefficient-checksum oracle as baseline
# applies. Progressive AC scans need EOBn symbols the standard baseline
# tables do not define, so both sides share fixed-length canonical
# tables (optimal code lengths would shrink payloads, not change the
# recovered coefficients the oracle checks).

_P_DC_BITS = [0, 0, 0, 14] + [0] * 12  # 14 four-bit codes: SSSS 0..13
_P_DC_VALS = list(range(14))
_P_AC_VALS = sorted(
    {n << 4 for n in range(15)}  # EOBn, run length 2^n..2^(n+1)-1
    | {0xF0}  # ZRL
    | {(run << 4) | size for run in range(16) for size in range(1, 11)}
)
_P_AC_BITS = [0] * 8 + [len(_P_AC_VALS)] + [0] * 7  # all nine-bit
_P_DC_CODES = _build_canonical_codes(_P_DC_BITS, _P_DC_VALS)
_P_AC_CODES = _build_canonical_codes(_P_AC_BITS, _P_AC_VALS)
_PROG = _Huffman(
    bytes(_P_DC_BITS + _P_DC_VALS), bytes(_P_AC_BITS + _P_AC_VALS), _P_DC_CODES, _P_AC_CODES
)


def _pt_ac(v: int, al: int) -> int:
    """AC point transform (T.81 G.1.2.2): magnitude shift — division by
    2^al truncating toward ZERO (the DC transform is the arithmetic
    shift instead)."""
    return -((-v) >> al) if v < 0 else v >> al


def _p_emit(w: _BitWriter, codes: dict, symbol: int) -> None:
    code, length = codes[symbol]
    w.put(code, length)


def _p_enc_ac_first(
    w: _BitWriter, coeffs: np.ndarray, ss: int, se: int, al: int
) -> None:
    eobrun = 0

    def flush() -> None:
        nonlocal eobrun
        if eobrun:
            n = eobrun.bit_length() - 1
            _p_emit(w, _P_AC_CODES, n << 4)
            if n:
                w.put(eobrun - (1 << n), n)
            eobrun = 0

    # r15 (§4.5): the per-coefficient point transform is one vectorized
    # where() per block instead of a Python call per coefficient —
    # identical truncate-toward-zero arithmetic, ~2x on the encode pass.
    seg_all = np.asarray(coeffs)[:, ss : se + 1]
    band_all = np.where(seg_all < 0, -((-seg_all) >> al), seg_all >> al)
    last_nz_all = np.where(
        (band_all != 0).any(axis=1),
        band_all.shape[1] - 1 - np.argmax(band_all[:, ::-1] != 0, axis=1),
        -1,
    )
    for bi in range(band_all.shape[0]):
        band = band_all[bi].tolist()
        last_nz = int(last_nz_all[bi])
        if last_nz < 0:
            eobrun += 1
            if eobrun == 32767:
                flush()
            continue
        flush()
        run = 0
        for i in range(last_nz + 1):
            v = band[i]
            if v == 0:
                run += 1
                continue
            while run > 15:
                _p_emit(w, _P_AC_CODES, 0xF0)
                run -= 16
            size = _magnitude_category(v)
            _encode_coeff_bits(w, _P_AC_CODES, (run << 4) | size, v, size)
            run = 0
        if last_nz < se - ss:
            eobrun += 1
            if eobrun == 32767:
                flush()
    flush()


def _p_enc_ac_refine(
    w: _BitWriter, coeffs: np.ndarray, ss: int, se: int, al: int
) -> None:
    """T.81 G.1.2.3 correction-bit coding: history coefficients (already
    significant at al+1) contribute one bit each; newly-significant
    ones are coded run/1 + sign; zero-run and correction bits buffer
    across EOB runs exactly as the decoder consumes them."""
    eobrun = 0
    pending: list[int] = []  # correction bits buffered behind the EOBn

    def flush() -> None:
        nonlocal eobrun, pending
        if eobrun:
            n = eobrun.bit_length() - 1
            _p_emit(w, _P_AC_CODES, n << 4)
            if n:
                w.put(eobrun - (1 << n), n)
            eobrun = 0
        for bit in pending:
            w.put(bit, 1)
        pending = []

    # r15 (§4.5): vectorized history/new-significance masks per block
    # (same truncate-toward-zero point transform, same positions).
    seg_all = np.asarray(coeffs)[:, ss : se + 1]
    t_hist = np.where(
        seg_all < 0, -((-seg_all) >> (al + 1)), seg_all >> (al + 1)
    )
    t_cur = np.where(seg_all < 0, -((-seg_all) >> al), seg_all >> al)
    hist_all = t_hist != 0
    new_all = (~hist_all) & (t_cur != 0)
    for bi in range(seg_all.shape[0]):
        vals = seg_all[bi].tolist()
        hist = hist_all[bi].tolist()
        nz = np.nonzero(new_all[bi])[0]
        eobpos = int(nz[-1]) if nz.size else -1
        run = 0
        local: list[int] = []  # correction bits since the last symbol
        for i in range(eobpos + 1):
            t = _pt_ac(vals[i], al)
            if not hist[i] and t == 0:
                run += 1
                continue
            # ZRLs drain at ANY nonzero position — history included —
            # (T.81 figure G.7 ordering): the decoder's 16-zero skip
            # window only reads correction bits for history positions
            # it passes, so bits beyond the window must wait for the
            # next symbol, which means the run must be cut HERE.
            while run > 15:
                flush()
                _p_emit(w, _P_AC_CODES, 0xF0)
                for bit in local:
                    w.put(bit, 1)
                local = []
                run -= 16
            if hist[i]:
                local.append((abs(vals[i]) >> al) & 1)
                continue
            # newly significant: |t| == 1 by construction of the scan script
            flush()
            _p_emit(w, _P_AC_CODES, (run << 4) | 1)
            w.put(1 if t > 0 else 0, 1)
            for bit in local:
                w.put(bit, 1)
            local = []
            run = 0
        # band tail: corrections for history positions after the last
        # newly-significant one ride the EOB run. A block whose last
        # new coefficient sits exactly at Se ends the band itself — the
        # decoder reads no EOB for it.
        if eobpos < len(vals) - 1:
            for i in range(eobpos + 1, len(vals)):
                if hist[i]:
                    local.append((abs(vals[i]) >> al) & 1)
            eobrun += 1
            pending.extend(local)
            if eobrun == 32767:
                flush()
    flush()


@functools.lru_cache(maxsize=16)
def _p_script(spec: tuple, ac_bands: tuple) -> tuple:
    """The scans of a progressive stream, each as (components, Ss, Se,
    Ah, Al, SOS header): a DC first scan (Al=1) and its refine over
    every ``spec`` component — interleaved when there are several, the
    only multi-component scan shape T.81 allows in progressive mode —
    then each ``ac_bands`` (component, Ss, Se) band non-interleaved, all
    firsts (Al=1) before all refines (Al=0)."""
    dc = tuple(range(len(spec)))
    scans = [(dc, 0, 0, 0, 1), (dc, 0, 0, 1, 0)]
    scans += [((ci,), ss, se, 0, 1) for ci, ss, se in ac_bands]
    scans += [((ci,), ss, se, 1, 0) for ci, ss, se in ac_bands]
    # DC scans select a component's DC table, AC scans its AC table
    return tuple(
        (cis, ss, se, ah, al, _sos(
            [(spec[ci][0], spec[ci][2] if ss else spec[ci][2] << 4) for ci in cis],
            ss, se, ah, al,
        ))
        for cis, ss, se, ah, al in scans
    )


def _encode_progressive(
    width: int, height: int, spec, qtables, huff, blocks, ac_bands
) -> bytes:
    """Progressive (SOF2) stream over the :func:`_p_script` scans. AC
    bands code a component's blocks in array order, which is its scan
    raster because encoded images are whole MCUs."""
    sampling = _spec_scan(spec)[0]
    out = _jfif(_PROGRESSIVE, width, height, spec, qtables, huff)
    for cis, ss, se, ah, al, sos in _p_script(spec, ac_bands):
        out += sos
        w = _BitWriter()
        if ss:
            enc = _p_enc_ac_refine if ah else _p_enc_ac_first
            enc(w, blocks[cis[0]], ss, se, al)
        else:
            pred = [0] * len(cis)
            for k, b in _scan_order(width, height, sampling, cis)[0]:
                v = int(blocks[cis[k]][b, 0]) >> al  # arithmetic-shift point transform
                if ah:
                    w.put(v & 1, 1)
                    continue
                diff = v - pred[k]
                pred[k] = v
                size = _magnitude_category(diff)
                _encode_coeff_bits(w, _P_DC_CODES, size, diff, size)
        w.flush()
        out += w.out
    return bytes(out + b"\xff\xd9")


def encode_jpeg_progressive_from_coeffs(
    wb: int, hb: int, coeffs_zz: np.ndarray, qtable_zz: list[int] = QTABLE_ZZ
) -> bytes:
    """Quantized coefficients -> progressive (SOF2) JFIF bytes: six
    scans (DC first+refine, two AC bands first+refine), successive
    approximation Al 1 -> 0 throughout."""
    assert coeffs_zz.shape == (wb * hb, 64)
    return _encode_progressive(
        wb * 8, hb * 8, _GRAY, [qtable_zz], [_PROG], [coeffs_zz],
        ((0, 1, 5), (0, 6, 63)),
    )


def encode_jpeg_progressive_color_from_coeffs(
    mcus_x: int,
    mcus_y: int,
    y_coeffs_zz: np.ndarray,
    cb_coeffs_zz: np.ndarray,
    cr_coeffs_zz: np.ndarray,
) -> bytes:
    """Quantized per-component coefficients -> progressive (SOF2) 4:2:0
    YCbCr JFIF — the shape most real web progressive JPEGs take. Same
    component layout as :func:`encode_jpeg_color_from_coeffs` (Y 2x2
    table 0, chroma 1x1 table 1, image exactly (mcus_x*16) x
    (mcus_y*16)). Ten scans: an INTERLEAVED 3-component DC first scan
    (Al=1, per-component predictors in MCU order — the only scan shape
    T.81 allows to be multi-component in progressive mode) + its
    interleaved refine, then per-component NON-interleaved AC band
    scans in each component's own raster block order (Y split 1-5 /
    6-63 to exercise spectral selection; chroma full-band), firsts
    then refines."""
    assert y_coeffs_zz.shape == (mcus_y * 2 * mcus_x * 2, 64)
    assert cb_coeffs_zz.shape == cr_coeffs_zz.shape == (mcus_y * mcus_x, 64)
    return _encode_progressive(
        mcus_x * 16, mcus_y * 16, _YCC420, [QTABLE_ZZ, QTABLE_CHR_ZZ],
        [_PROG, _PROG], [y_coeffs_zz, cb_coeffs_zz, cr_coeffs_zz],
        ((0, 1, 5), (0, 6, 63), (1, 1, 63), (2, 1, 63)),
    )


def _p_dec_ac_first(r, lut, row, ss: int, se: int, al: int, eobrun: int) -> int:
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        sym = _huff_decode(r, lut)
        run, size = sym >> 4, sym & 15
        if size == 0:
            if run < 15:  # EOBn: run length 2^run + extra
                return (1 << run) + (r.bits(run) if run else 0) - 1
            k += 16  # ZRL
            continue
        k += run
        if k > se:
            raise ValueError("AC run past end of spectral band")
        row[k] = _extend(r.bits(size), size) << al
        k += 1
    return 0


def _p_dec_ac_refine(r, lut, row, ss: int, se: int, al: int, eobrun: int) -> int:
    p1 = 1 << al
    k = ss

    def correct(z: int) -> None:
        c = int(row[z])
        if r.bit() and not (c & p1):
            row[z] = c + p1 if c > 0 else c - p1

    if eobrun == 0:
        while k <= se:
            sym = _huff_decode(r, lut)
            run, size = sym >> 4, sym & 15
            newval = 0
            if size == 0:
                if run < 15:
                    eobrun = (1 << run) + (r.bits(run) if run else 0)
                    break
                # ZRL: skip 16 insignificant positions, correcting
                # significant ones passed over
            else:
                if size != 1:
                    raise ValueError("refinement magnitude must be 1")
                newval = p1 if r.bit() else -p1
            while k <= se:
                if row[k] != 0:
                    correct(k)
                elif run == 0:
                    if newval:
                        row[k] = newval
                    k += 1
                    break
                else:
                    run -= 1
                    k += 1
                    continue
                k += 1
            else:
                if newval:
                    raise ValueError("newly significant coefficient past band")
    if eobrun > 0:
        while k <= se:  # rest of this block: corrections only
            if row[k] != 0:
                correct(k)
            k += 1
        eobrun -= 1
    return eobrun


def _sof2_gray(f: _Frame) -> None:
    if f.kind != _PROGRESSIVE:
        raise ValueError("not a progressive stream (use decode_jpeg for baseline)")
    if len(f.ids) == 3:
        raise ValueError(
            "decode_jpeg_progressive is the grayscale entry point; "
            "use decode_jpeg_progressive_color"
        )


def _sof2_color(f: _Frame) -> None:
    if f.kind != _PROGRESSIVE:
        raise ValueError("not a progressive stream (use decode_jpeg for baseline)")
    if len(f.ids) == 1:
        raise ValueError("decode_jpeg_progressive_color expects a 3-component frame")


def decode_jpeg_progressive(payload: bytes):
    """Progressive (SOF2) JFIF grayscale decode: every scan of the
    stream — spectral selection, successive approximation (DC arithmetic
    shift, AC magnitude shift), EOB-run and correction-bit coding —
    recovering the exact quantized coefficients (the hash-oracle
    contract, identical to baseline because the entropy layer is
    lossless whatever the scan structure). Returns
    (width, height, pixels, coeffs_zz) like :func:`decode_jpeg`."""
    return _gray(_decode(payload, _sof2_gray))


def decode_jpeg_progressive_color(payload: bytes):
    """Progressive (SOF2) YCbCr color decode (r12): the interleaved
    multi-component DC scans + per-component non-interleaved AC band
    scans of real web progressive JPEGs, recovering exact per-plane
    quantized coefficients; reconstruction (dequant, IDCT, chroma
    upsample, BT.601) is shared byte-for-byte with the baseline color
    decoder. Returns (width, height, rgb, [y, cb, cr] coeffs) like
    :func:`decode_jpeg_color`."""
    return _color(_decode(payload, _sof2_color))


# --- deterministic payload synthesis (integer arithmetic => SQL oracle) -----


def formula_jpeg_coeffs(doc_id: int) -> tuple[int, int, np.ndarray, int]:
    """(wb, hb, coeffs_zz, restart_interval) for doc_id.

    All integer arithmetic, mirrored by the DuckDB oracle in
    multimodal_real.py: blocks wb = 2 + doc_id % 4, hb = 1 + doc_id % 3;
    DC(b) = ((doc_id + 17*b) % 41) - 20; AC at zigzag z in 1..19 is
    nonzero iff (doc_id + 7*b + 3*z) % 5 == 0, with value
    ((doc_id + 11*b + 13*z) % 21) - 10. Restart interval 4 when
    doc_id % 3 == 0 (exercises RSTn + DC-predictor reset), else none.
    """
    wb = 2 + doc_id % 4
    hb = 1 + doc_id % 3
    n = wb * hb
    b = np.arange(n, dtype=np.int64)[:, None]
    z = np.arange(64, dtype=np.int64)[None, :]
    vals = ((doc_id + 11 * b + 13 * z) % 21) - 10
    mask = ((doc_id + 7 * b + 3 * z) % 5 == 0) & (z >= 1) & (z < 20)
    coeffs = np.where(mask, vals, 0)
    coeffs[:, 0] = ((doc_id + 17 * b[:, 0]) % 41) - 20
    rst = 4 if doc_id % 3 == 0 else 0
    return wb, hb, coeffs, rst


def gen_jpeg_payload(doc_id: int) -> bytes:
    """Deterministic synthetic grayscale baseline JPEG container."""
    wb, hb, coeffs, rst = formula_jpeg_coeffs(doc_id)
    return encode_jpeg_from_coeffs(wb, hb, coeffs, restart_interval=rst)


def formula_jpeg_dc_only(doc_id: int) -> tuple[int, int, np.ndarray]:
    """DC-only coefficient blocks for the pixel-exact oracle key.

    dc(b) = ((doc_id + 37*b) % 321) - 160 spans [-160, 160], so with
    q_dc = 8 the decoded block is the constant pixel
    clamp(dc + 128, 0, 255) — both clamp edges exercised, zero
    rounding ambiguity (dequant/8 = dc exactly).
    """
    wb = 2 + doc_id % 3
    hb = 1 + doc_id % 2
    n = wb * hb
    coeffs = np.zeros((n, 64), dtype=np.int64)
    b = np.arange(n, dtype=np.int64)
    coeffs[:, 0] = ((doc_id + 37 * b) % 321) - 160
    return wb, hb, coeffs


def gen_jpeg_dc_payload(doc_id: int) -> bytes:
    wb, hb, coeffs = formula_jpeg_dc_only(doc_id)
    return encode_jpeg_from_coeffs(wb, hb, coeffs)


def formula_jpeg_color_coeffs(doc_id: int):
    """(mcus_x, mcus_y, y_coeffs, cb_coeffs, cr_coeffs, restart) —
    integer arithmetic mirrored by the multimodal_jpeg_color_decode
    oracle: mcus_x = 1 + doc_id % 3, mcus_y = 1 + doc_id % 2; per Y
    block b DC = ((doc_id + 23b) % 61) - 30, AC at z in 1..15 nonzero
    iff (doc_id + 5b + 7z) % 6 == 0 with value ((doc_id + 3b + 11z)
    % 19) - 9; per chroma block m Cb DC = ((doc_id + 29m) % 41) - 20
    with AC gate (doc_id + 11m + 3z) % 7 == 0 for z in 1..9, value
    ((doc_id + 13m + 5z) % 17) - 8, and Cr DC = ((doc_id + 31m) % 41)
    - 20 with gate (doc_id + 7m + 5z) % 7 == 0, value ((doc_id + 17m
    + 3z) % 17) - 8. Restart interval 2 MCUs when doc_id % 4 == 0."""
    mcus_x = 1 + doc_id % 3
    mcus_y = 1 + doc_id % 2
    n_y = mcus_y * 2 * mcus_x * 2
    n_c = mcus_y * mcus_x
    b = np.arange(n_y, dtype=np.int64)[:, None]
    m = np.arange(n_c, dtype=np.int64)[:, None]
    z = np.arange(64, dtype=np.int64)[None, :]

    yv = ((doc_id + 3 * b + 11 * z) % 19) - 9
    ym = ((doc_id + 5 * b + 7 * z) % 6 == 0) & (z >= 1) & (z <= 15)
    y = np.where(ym, yv, 0)
    y[:, 0] = ((doc_id + 23 * b[:, 0]) % 61) - 30

    cbv = ((doc_id + 13 * m + 5 * z) % 17) - 8
    cbm = ((doc_id + 11 * m + 3 * z) % 7 == 0) & (z >= 1) & (z <= 9)
    cb = np.where(cbm, cbv, 0)
    cb[:, 0] = ((doc_id + 29 * m[:, 0]) % 41) - 20

    crv = ((doc_id + 17 * m + 3 * z) % 17) - 8
    crm = ((doc_id + 7 * m + 5 * z) % 7 == 0) & (z >= 1) & (z <= 9)
    cr = np.where(crm, crv, 0)
    cr[:, 0] = ((doc_id + 31 * m[:, 0]) % 41) - 20

    rst = 2 if doc_id % 4 == 0 else 0
    return mcus_x, mcus_y, y, cb, cr, rst


def gen_jpeg_color_payload(doc_id: int) -> bytes:
    """Deterministic synthetic 4:2:0 YCbCr baseline JPEG container."""
    mx, my, y, cb, cr, rst = formula_jpeg_color_coeffs(doc_id)
    return encode_jpeg_color_from_coeffs(mx, my, y, cb, cr, restart_interval=rst)
