"""Arithmetic-coded JPEG (ITU T.81 Annexes D/F, SOF9) — round 14.

Closes the last named gap in the r13 verdict's missing list (#4,
"JPEG arithmetic coding — spec-legal but rare"): the QM binary
arithmetic coder of T.81 Annex D with its 113-state probability
estimation table (Table D.3), the extended-sequential DC/AC decision
trees of §F.1.4.4 with their conditioning contexts (49 DC statistics
bins: 5 difference-classification contexts x {S0,SS,SP,SN} + X1-X15
+ M2-M15; 245 AC bins: {SE,S0,SP/X1} per coefficient index + the
low/high-Kx shared X2-X15/M2-M15 areas), the equiprobable
non-adapting fixed bin for AC signs, the DAC conditioning segment
(L/U difference bounds, Kx band split), and the SOF9
extended-sequential-arithmetic frame around them.

This module is the entropy layer only. The container — SOI/APP0/DQT/
DAC/SOF9/SOS writing, the marker reader that parses DQT, DAC, DRI and
SOF9 and yields at the SOS, the scan-order walk, the typed-error
wrapper and the IDCT — is ops/jpeg.py's one layer shared by all five
JPEG codecs: ``decode_jpeg_arith`` is that reader plus its SOF9 frame
check, and ``_decode_arith_scan`` is what it runs at the scan.

Provenance: implemented from the public T.81 spec text (Annex D
flowcharts, §F.1.4.4 / §F.2.x decision trees) and the standard
published form of Table D.3. No JPEG library exists in this
container to cross-validate arithmetic bitstreams against, so —
exactly like the GIF LZW stance — fidelity is pinned by (a)
structural table invariants (state-machine reachability, Kraft-style
Qe sanity, the documented switch-state set), (b) encoder/decoder
round-trips where the two sides implement the SEPARATE encode and
decode flowcharts (agreement is meaningful because the register
conventions differ), and (c) the container-level 0xFF00 byte-stuffing
contract shared with the Huffman path.

The entropy layer is exactly invertible: the decoder recovers the
encoder's quantized coefficients bit for bit, which is what makes the
registry key hash-oracle-able (the multimodal_jpeg_decode stance).
Restart markers are NOT emitted by this encoder (the Huffman keys
exercise restart handling; arithmetic restart resets coder AND all
statistics — noted, unimplemented: a DRI in an SOF9 stream raises
NotImplementedError).

Typed errors only: the shared reader raises ValueError on missing or
duplicate markers, non-SOF9 frames, short segments and a missing EOI;
the QM decoder on truncated entropy data (a marker reached mid-block
feeds zeros per §D.2.2, the scan completes on block count) and
magnitude-category overflow.
"""

from __future__ import annotations

import numpy as np

from sim_spark.ops.jpeg import (
    _ARITHMETIC,
    _GRAY,
    QTABLE_ZZ,
    _decode,
    _gray,
    _jfif,
    _scan_order,
    _sos,
)

__all__ = [
    "encode_jpeg_arith_from_coeffs",
    "decode_jpeg_arith",
    "QMEncoder",
    "QMDecoder",
]

# --- Table D.3: Qe, Next_Index_LPS, Next_Index_MPS, Switch_MPS --------------
# Index 113 is the non-adapting equiprobable state used for AC signs
# (NLPS = NMPS = 113, switch off) — the conventional 114th row.

_QM_TAB: tuple[tuple[int, int, int, int], ...] = (
    (0x5A1D, 1, 1, 1), (0x2586, 14, 2, 0), (0x1114, 16, 3, 0),
    (0x080B, 18, 4, 0), (0x03D8, 20, 5, 0), (0x01DA, 23, 6, 0),
    (0x00E5, 25, 7, 0), (0x006F, 28, 8, 0), (0x0036, 30, 9, 0),
    (0x001A, 33, 10, 0), (0x000D, 35, 11, 0), (0x0006, 9, 12, 0),
    (0x0003, 10, 13, 0), (0x0001, 12, 13, 0), (0x5A7F, 15, 15, 1),
    (0x3F25, 36, 16, 0), (0x2CF2, 38, 17, 0), (0x207C, 39, 18, 0),
    (0x17B9, 40, 19, 0), (0x1182, 42, 20, 0), (0x0CEF, 43, 21, 0),
    (0x09A1, 45, 22, 0), (0x072F, 46, 23, 0), (0x055C, 48, 24, 0),
    (0x0406, 49, 25, 0), (0x0303, 51, 26, 0), (0x0240, 52, 27, 0),
    (0x01B1, 54, 28, 0), (0x0144, 56, 29, 0), (0x00F5, 57, 30, 0),
    (0x00B7, 59, 31, 0), (0x008A, 60, 32, 0), (0x0068, 62, 33, 0),
    (0x004E, 63, 34, 0), (0x003B, 32, 35, 0), (0x002C, 33, 9, 0),
    (0x5AE1, 37, 37, 1), (0x484C, 64, 38, 0), (0x3A0D, 65, 39, 0),
    (0x2EF1, 67, 40, 0), (0x261F, 68, 41, 0), (0x1F33, 69, 42, 0),
    (0x19A8, 70, 43, 0), (0x1518, 72, 44, 0), (0x1177, 73, 45, 0),
    (0x0E74, 74, 46, 0), (0x0BFB, 75, 47, 0), (0x09F8, 77, 48, 0),
    (0x0861, 78, 49, 0), (0x0706, 79, 50, 0), (0x05CD, 48, 51, 0),
    (0x04DE, 50, 52, 0), (0x040F, 50, 53, 0), (0x0363, 51, 54, 0),
    (0x02D4, 52, 55, 0), (0x025C, 53, 56, 0), (0x01F8, 54, 57, 0),
    (0x01A4, 55, 58, 0), (0x0160, 56, 59, 0), (0x0125, 57, 60, 0),
    (0x00F6, 58, 61, 0), (0x00CB, 59, 62, 0), (0x00AB, 61, 63, 0),
    (0x008F, 61, 32, 0), (0x5B12, 65, 65, 1), (0x4D04, 80, 66, 0),
    (0x412C, 81, 67, 0), (0x37D8, 82, 68, 0), (0x2FE8, 83, 69, 0),
    (0x293C, 84, 70, 0), (0x2379, 86, 71, 0), (0x1EDF, 87, 72, 0),
    (0x1AA9, 87, 73, 0), (0x174E, 72, 74, 0), (0x1424, 72, 75, 0),
    (0x119C, 74, 76, 0), (0x0F6B, 74, 77, 0), (0x0D51, 75, 78, 0),
    (0x0BB6, 77, 79, 0), (0x0A40, 77, 48, 0), (0x5832, 80, 81, 1),
    (0x4D1C, 88, 82, 0), (0x438E, 89, 83, 0), (0x3BDD, 90, 84, 0),
    (0x34EE, 91, 85, 0), (0x2EAE, 92, 86, 0), (0x299A, 93, 87, 0),
    (0x2516, 86, 71, 0), (0x5570, 88, 89, 1), (0x4CA9, 95, 90, 0),
    (0x44D9, 96, 91, 0), (0x3E22, 97, 92, 0), (0x3824, 99, 93, 0),
    (0x32B4, 99, 94, 0), (0x2E17, 93, 86, 0), (0x56A8, 95, 96, 1),
    (0x4F46, 101, 97, 0), (0x47E5, 102, 98, 0), (0x41CF, 103, 99, 0),
    (0x3C3D, 104, 100, 0), (0x375E, 99, 93, 0), (0x5231, 105, 102, 0),
    (0x4C0F, 106, 103, 0), (0x4639, 107, 104, 0), (0x415E, 103, 99, 0),
    (0x5627, 105, 106, 1), (0x50E7, 108, 107, 0), (0x4B85, 109, 103, 0),
    (0x5597, 110, 109, 0), (0x504F, 111, 107, 0), (0x5A10, 110, 111, 1),
    (0x5522, 112, 109, 0), (0x59EB, 112, 111, 1),
    # fixed equiprobable bin (AC sign): never adapts
    (0x5A1D, 113, 113, 0),
)

_FIXED = 113  # statistics byte value for the fixed bin (MPS 0, idx 113)


# --- QM encoder (Annex D.1) --------------------------------------------------


class QMEncoder:
    """Binary QM arithmetic encoder.

    Register convention: ``a`` is the 16-bit interval, ``c`` the code
    register with the output byte at bits 19..26 and the carry at bit
    27; ``ct`` counts renormalization shifts until the next byte is
    ready (11 initially — the spec's spacer bits). Carry resolution
    uses the classic pending-byte + stacked-0xFF model; every byte
    actually written as 0xFF is followed by a stuffed 0x00 so the
    entropy segment can never alias a marker (§D.1.6 / the same
    convention as the Huffman scan).
    """

    def __init__(self) -> None:
        self.a = 0x10000
        self.c = 0
        self.ct = 11
        self.out = bytearray()
        self._pending: int | None = None
        self._nff = 0

    # statistics bytes: (mps << 7) | state_index
    def encode(self, stats: bytearray, i: int, bit: int) -> None:
        sv = stats[i]
        qe, nlps, nmps, sw = _QM_TAB[sv & 0x7F]
        self.a -= qe
        if bit == (sv >> 7):
            # MPS path
            if self.a >= 0x8000:
                return
            if self.a < qe:  # conditional exchange
                self.c += self.a
                self.a = qe
            stats[i] = (sv & 0x80) | nmps
            self._renorm()
        else:
            # LPS path
            if self.a >= qe:  # conditional exchange
                self.c += self.a
                self.a = qe
            if sw:
                sv ^= 0x80
            stats[i] = (sv & 0x80) | nlps
            self._renorm()

    def _renorm(self) -> None:
        while self.a < 0x8000:
            self.a <<= 1
            self.c <<= 1
            self.ct -= 1
            if self.ct == 0:
                self._byteout()

    def _byteout(self) -> None:
        t = self.c >> 19
        self.c &= 0x7FFFF
        self.ct = 8
        if t > 0xFF:
            # carry: +1 into the pending byte; stacked 0xFFs roll to 0x00
            if self._pending is None:
                raise ValueError("QM encoder carry with no pending byte")
            self._push(self._pending + 1)
            self.out.extend(b"\x00" * self._nff)
            self._nff = 0
            self._pending = t & 0xFF  # spacer bits: cannot be 0xFF
        elif t == 0xFF:
            self._nff += 1  # may still be flipped by a later carry
        else:
            if self._pending is not None:
                self._push(self._pending)
            for _ in range(self._nff):
                self._push(0xFF)
            self._nff = 0
            self._pending = t

    def _push(self, b: int) -> None:
        self.out.append(b)
        if b == 0xFF:
            self.out.append(0x00)  # byte stuffing

    def flush(self) -> bytes:
        """§D.1.8: set as many low C bits to zero as the interval
        allows, then drain the register (two final bytes; carry, if
        any, resolves into the pending byte before the drain)."""
        t = (self.c + self.a - 1) & 0xFFFF0000
        if t < self.c:
            t += 0x8000
        c = t << self.ct
        if c & 0xF8000000:
            # carry into the pending byte; stacked 0xFFs roll to 0x00
            if self._pending is None:
                raise ValueError("QM encoder carry with no pending byte")
            self._push(self._pending + 1)
            self.out.extend(b"\x00" * self._nff)
        else:
            if self._pending is not None:
                self._push(self._pending)
            for _ in range(self._nff):
                self._push(0xFF)
        self._nff = 0
        self._pending = None
        self._push((c >> 19) & 0xFF)
        self._push((c >> 11) & 0xFF)
        return bytes(self.out)


# --- QM decoder (Annex D.2) --------------------------------------------------


class QMDecoder:
    """Mirror of the decode flowcharts, software register convention:
    ``c`` accumulates raw entropy bytes; ``ct`` tracks how many bits
    of the most recent byte are still below the comparison window, so
    interval values are aligned with ``<< ct`` at compare time. On a
    marker (0xFF followed by anything but a stuffed 0x00) the feed
    switches to zero bytes, per §D.2.2 — decoding completes on block
    count, not on data exhaustion."""

    def __init__(self, data: bytes, pos: int) -> None:
        self._d = data
        self._p = pos
        self.marker: int | None = None
        self.a = 0
        self.c = 0
        self.ct = -16  # forces the two initial byte fetches

    def _next_byte(self) -> int:
        if self.marker is not None:
            return 0
        if self._p >= len(self._d):
            raise ValueError("truncated arithmetic scan (no terminating marker)")
        b = self._d[self._p]
        self._p += 1
        if b != 0xFF:
            return b
        while self._p < len(self._d) and self._d[self._p] == 0xFF:
            self._p += 1  # fill bytes
        if self._p >= len(self._d):
            raise ValueError("truncated arithmetic scan after 0xFF")
        nxt = self._d[self._p]
        self._p += 1
        if nxt == 0x00:
            return 0xFF  # stuffed data byte
        self.marker = nxt  # real marker: zero-feed from here on
        return 0

    def decode(self, stats: bytearray, i: int) -> int:
        while self.a < 0x8000:
            self.ct -= 1
            if self.ct < 0:
                self.c = ((self.c << 8) | self._next_byte()) & 0xFFFFFFFF
                self.ct += 8
                if self.ct < 0:  # still initializing
                    self.ct += 1
                    if self.ct == 0:
                        self.a = 0x8000
            self.a <<= 1
        sv = stats[i]
        qe, nlps, nmps, sw = _QM_TAB[sv & 0x7F]
        self.a -= qe
        t = self.a << self.ct
        if self.c >= t:
            self.c -= t
            # upper subinterval
            if self.a < qe:
                bit = sv >> 7  # conditional exchange: MPS
                stats[i] = (sv & 0x80) | nmps
            else:
                bit = 1 - (sv >> 7)  # LPS
                if sw:
                    sv ^= 0x80
                stats[i] = (sv & 0x80) | nlps
            self.a = qe
        else:
            if self.a < 0x8000:
                if self.a < qe:
                    bit = 1 - (sv >> 7)  # conditional exchange: LPS
                    if sw:
                        sv ^= 0x80
                    stats[i] = (sv & 0x80) | nlps
                else:
                    bit = sv >> 7  # MPS
                    stats[i] = (sv & 0x80) | nmps
            else:
                bit = sv >> 7  # MPS, no renormalization
        return bit


# --- §F.1.4.4 decision trees -------------------------------------------------

_DC_STATS_LEN = 49  # 5 contexts x 4 + X1..X15 + M2..M15
_AC_STATS_LEN = 245  # 63 x {SE,S0,SP/X1} + 2 x (X2..X15 + M2..M15)
_DEFAULT_L = 0
_DEFAULT_U = 1
_DEFAULT_KX = 5


def _dc_condition(m: int, sign: int, lo: int, hi: int) -> int:
    """F.1.4.4.1.2 conditioning category of the coded difference:
    ``m`` is the magnitude-category base (0 for |diff| = 1)."""
    if m < lo:
        return 0
    if m > hi:
        return 12 + sign * 4
    return 4 + sign * 4


class _DCCodec:
    def __init__(self, L: int, U: int) -> None:
        self.lo = (1 << L) >> 1
        self.hi = (1 << U) >> 1
        self.stats = bytearray(_DC_STATS_LEN)
        self.ctx = 0
        self.pred = 0

    def encode(self, enc: QMEncoder, dc: int) -> None:
        diff = dc - self.pred
        self.pred = dc
        st = self.ctx
        if diff == 0:
            enc.encode(self.stats, st, 0)
            self.ctx = 0
            return
        enc.encode(self.stats, st, 1)
        sign = 1 if diff < 0 else 0
        sz = (-diff if sign else diff) - 1
        enc.encode(self.stats, st + 1, sign)
        st2 = st + 2 + sign
        if sz == 0:
            enc.encode(self.stats, st2, 0)
            m = 0
        else:
            enc.encode(self.stats, st2, 1)
            m = 1
            xst = 20
            while sz >= (m << 1):
                if m == 0x4000:
                    raise ValueError("DC difference magnitude overflow")
                enc.encode(self.stats, xst, 1)
                m <<= 1
                xst += 1
            enc.encode(self.stats, xst, 0)
            mm = m >> 1
            mst = xst + 14
            while mm:
                enc.encode(self.stats, mst, 1 if sz & mm else 0)
                mm >>= 1
        self.ctx = _dc_condition(m, sign, self.lo, self.hi)

    def decode(self, dec: QMDecoder) -> int:
        st = self.ctx
        if dec.decode(self.stats, st) == 0:
            self.ctx = 0
            return self.pred
        sign = dec.decode(self.stats, st + 1)
        st2 = st + 2 + sign
        m = dec.decode(self.stats, st2)
        if m:
            xst = 20
            while dec.decode(self.stats, xst):
                if m == 0x4000:
                    raise ValueError("DC magnitude category overflow")
                m <<= 1
                xst += 1
            v = m
            mm = m >> 1
            mst = xst + 14
            while mm:
                if dec.decode(self.stats, mst):
                    v |= mm
                mm >>= 1
        else:
            v = 0
        v += 1
        if sign:
            v = -v
        self.ctx = _dc_condition(m, sign, self.lo, self.hi)
        self.pred += v
        return self.pred


class _ACCodec:
    def __init__(self, kx: int) -> None:
        self.kx = kx
        self.stats = bytearray(_AC_STATS_LEN)
        self.fixed = bytearray([_FIXED])

    def encode(self, enc: QMEncoder, blk) -> None:
        nz = [k for k in range(1, 64) if blk[k]]
        last = nz[-1] if nz else 0
        k = 1
        while k <= 63:
            st = 3 * (k - 1)
            if k > last:
                enc.encode(self.stats, st, 1)  # EOB
                return
            enc.encode(self.stats, st, 0)
            while blk[k] == 0:
                enc.encode(self.stats, st + 1, 0)
                k += 1
                st += 3
            enc.encode(self.stats, st + 1, 1)
            v = int(blk[k])
            sign = 1 if v < 0 else 0
            sz = (-v if sign else v) - 1
            enc.encode(self.fixed, 0, sign)
            st2 = st + 2
            if sz == 0:
                enc.encode(self.stats, st2, 0)
                m = 0
                mst = st2 + 14  # never used (no magnitude bits)
            elif sz == 1:
                enc.encode(self.stats, st2, 1)
                enc.encode(self.stats, st2, 0)
                m = 1
                mst = st2 + 14  # never used
            else:
                enc.encode(self.stats, st2, 1)
                enc.encode(self.stats, st2, 1)
                m = 2
                xst = 189 if k <= self.kx else 217
                while sz >= (m << 1):
                    if m == 0x4000:
                        raise ValueError("AC magnitude overflow")
                    enc.encode(self.stats, xst, 1)
                    m <<= 1
                    xst += 1
                enc.encode(self.stats, xst, 0)
                mst = xst + 14
            mm = m >> 1
            while mm:
                enc.encode(self.stats, mst, 1 if sz & mm else 0)
                mm >>= 1
            k += 1
        # k ran past 63 with the last coefficient nonzero: no EOB

    def decode(self, dec: QMDecoder, blk) -> None:
        k = 1
        while k <= 63:
            st = 3 * (k - 1)
            if dec.decode(self.stats, st):
                return  # EOB
            while dec.decode(self.stats, st + 1) == 0:
                k += 1
                st += 3
                if k > 63:
                    raise ValueError("AC zero-run past the block end")
            sign = dec.decode(self.fixed, 0)
            st2 = st + 2
            m = dec.decode(self.stats, st2)
            mst = st2 + 14
            if m:
                if dec.decode(self.stats, st2):
                    m = 2
                    xst = 189 if k <= self.kx else 217
                    while dec.decode(self.stats, xst):
                        if m == 0x4000:
                            raise ValueError("AC magnitude category overflow")
                        m <<= 1
                        xst += 1
                    mst = xst + 14
            v = m
            mm = m >> 1
            while mm:
                if dec.decode(self.stats, mst):
                    v |= mm
                mm >>= 1
            v += 1
            blk[k] = -v if sign else v
            k += 1


# --- SOF9 container ----------------------------------------------------------


def encode_jpeg_arith_from_coeffs(
    wb: int,
    hb: int,
    coeffs_zz: np.ndarray,
    qtable_zz: list[int] = QTABLE_ZZ,
) -> bytes:
    """Quantized zigzag coefficients -> extended-sequential
    arithmetic-coded JFIF bytes (SOF9 + DAC; grayscale, 8-bit, one
    scan, no restarts)."""
    n_blocks = wb * hb
    if coeffs_zz.shape != (n_blocks, 64):
        raise ValueError(
            f"coeffs shape {coeffs_zz.shape} != ({n_blocks}, 64)"
        )
    # DAC: DC conditioning table 0 = (U << 4) | L; AC table 0 = Kx
    dac = bytes([0x00, (_DEFAULT_U << 4) | _DEFAULT_L, 0x10, _DEFAULT_KX])
    out = _jfif(_ARITHMETIC, wb * 8, hb * 8, _GRAY, [qtable_zz], dac=dac)
    out += _sos([(1, 0x00)])
    enc = QMEncoder()
    dcc = _DCCodec(_DEFAULT_L, _DEFAULT_U)
    acc = _ACCodec(_DEFAULT_KX)
    for b in range(n_blocks):  # one component: the scan walks its raster
        dcc.encode(enc, int(coeffs_zz[b, 0]))
        acc.encode(enc, coeffs_zz[b])
    out += enc.flush()
    out += b"\xff\xd9"
    return bytes(out)


def _check_sof9(f) -> None:
    if f.kind != _ARITHMETIC:
        raise ValueError(
            f"frame 0xFF{f.kind:02X} is not arithmetic sequential "
            f"(expected SOF9)"
        )
    if f.precision != 8 or len(f.ids) != 1:
        raise ValueError("only 8-bit single-component SOF9 supported")
    if f.sampling != b"\x11":
        raise ValueError("subsampled SOF9 unsupported")


def decode_jpeg_arith(payload: bytes):
    """SOF9 arithmetic JFIF -> (width, height, pixels, coeffs_zz).

    Mirrors decode_jpeg's return contract: pixels are the dequantized
    IDCT plane (level-shifted, clamped), coeffs the exact recovered
    quantized coefficients in zigzag order."""
    return _gray(_decode(payload, _check_sof9))


def _decode_arith_scan(payload: bytes, f, scan, pos: int) -> None:
    """QM-decode one SOF9 scan into its component's coefficient grid —
    the arithmetic entropy layer under ops/jpeg.py's shared reader,
    which hands over the frame (DAC conditioning included) at the SOS.
    The decoder zero-feeds past a marker, so completion is by block
    count; the reader then requires the marker after the scan."""
    if len(scan.cis) != 1 or f.restart_interval:
        raise NotImplementedError(
            "SOF9 decode takes one component and no restart markers"
        )
    ((td, ta),) = scan.tables
    dc_cond = f.dac.get((0, td), (_DEFAULT_U << 4) | _DEFAULT_L)
    dcc = _DCCodec(dc_cond & 0xF, dc_cond >> 4)
    acc = _ACCodec(f.dac.get((1, ta), _DEFAULT_KX))
    dec = QMDecoder(payload, pos)
    coeffs = f.comps[scan.cis[0]]["coeffs"]
    for _, b in _scan_order(f.width, f.height, f.sampling, scan.cis)[0]:
        blk = coeffs[b]
        blk[0] = dcc.decode(dec)
        acc.decode(dec, blk)
