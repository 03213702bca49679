"""FLAC codec — dependency-free, mono and stereo, 8..24-bit, real.

One encoder, :func:`encode_flac` (samples of shape (n,) or (2, n);
``lpc=`` writes a given LPC predictor), and one decoder,
:func:`decode_flac` (-> (sample_rate, (channels, n) samples)).

The lossless complement to ops/jpeg.py: rice/Golomb residual coding is
genuine entropy coding, and because FLAC is lossless the WHOLE pipeline
(synthesize samples -> encode -> container bytes -> decode -> samples)
is exactly invertible, so the decoded-sample features hash-match a
DuckDB recomputation from the doc_id formula end-to-end — no split
oracle needed. MP3 stays behind the NotImplementedError fence (its
polyphase filterbank + IMDCT + dozens of Huffman tables are a
qualitatively larger project, and lossy psychoacoustic output has no
lawful cross-engine oracle).

Implemented subset (a spec-conformant stream any FLAC decoder reads):

- container: "fLaC" magic, STREAMINFO metadata block (blocksizes,
  sample rate, channels, bps, total samples, REAL MD5 of the unencoded
  interleaved little-endian sample stream — verified on decode),
- frames: sync code 0b11111111111110 + blocking strategy, coded block
  size / sample rate / channel / bps fields, UTF-8-coded frame number,
  CRC-8 header checksum and CRC-16 frame checksum (both computed and
  VERIFIED),
- subframes: CONSTANT, VERBATIM, FIXED orders 0..4 (encode picks the
  cheapest of constant/fixed-0..2 per frame like a real encoder, with
  wasted-bits stripping), and LPC orders 1..32 (QLP precision/shift/
  coefficient parse + integer prediction), because real-world FLAC
  files overwhelmingly use LPC; the encoder writes a given predictor.
  Residuals are rice-coded (4/5-bit parameter, zigzag, escape to raw)
  in 2^po partitions, each with its own parameter; the encoder picks
  the cheapest po in 0..6.
- stereo: per-frame channel decorrelation (independent, left/side,
  right/side, mid/side with the exact (mid<<1)|(side&1) inverse),
  chosen by cost like a real encoder.

The decoder validates CRC-8, CRC-16, and the STREAMINFO MD5, so a
single corrupted bit anywhere in the stream is caught — tested.
"""

from __future__ import annotations

import functools
import hashlib
import struct

import numpy as np


def _make_crc8_table() -> list[int]:
    t = []
    for b in range(256):
        crc = b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
        t.append(crc)
    return t


def _make_crc16_table() -> list[int]:
    t = []
    for b in range(256):
        crc = b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
        t.append(crc)
    return t


_CRC8_T = _make_crc8_table()
_CRC16_T = _make_crc16_table()


def _crc8(data: bytes) -> int:
    """CRC-8 poly x^8+x^2+x+1 (0x07), init 0 — FLAC frame header CRC.
    Table-driven (the bit-loop version was the encode profile's top
    line at 29% of frame cost)."""
    crc = 0
    t = _CRC8_T
    for b in data:
        crc = t[crc ^ b]
    return crc


def _make_crc16_powers(words: int) -> np.ndarray:
    """Row d: the CRC-16 of each of the 16 single-bit 16-bit words
    followed by d zero words. The CRC (init 0) is linear over GF(2), so
    a message's CRC is the XOR of these rows picked by its set bits,
    each at its distance from the end."""
    step = np.array(_CRC16_T, dtype=np.int64)
    x = np.arange(1 << 16)
    hi = step[x >> 8]
    # one 16-bit word: the 16-bit register shifted by 16 bits depends
    # only on (register ^ word)
    step2 = ((hi & 0xFF) << 8) ^ step[(x & 0xFF) ^ (hi >> 8)]
    rows = np.empty((words, 16), dtype=np.uint16)
    rows[0] = step2[1 << np.arange(16)]
    for d in range(1, words):
        rows[d] = step2[rows[d - 1]]
    return rows


_CRC16_POW = _make_crc16_powers(4096)  # frames up to 8 KiB in one pass
_BIT16 = np.arange(16, dtype=np.uint16)


def _crc16(data: bytes) -> int:
    """CRC-16 poly x^16+x^15+x^2+1 (0x8005), init 0 — FLAC frame CRC."""
    nwords = len(data) >> 1
    if nwords > len(_CRC16_POW):  # beyond the table: bytewise
        crc = 0
        t = _CRC16_T
        for b in data:
            crc = ((crc << 8) & 0xFF00) ^ t[(crc >> 8) ^ b]
        return crc
    words = np.frombuffer(data, dtype=">u2", count=nwords).astype(np.uint16)
    bits = (words[:, None] >> _BIT16) & 1  # column b: bit b
    crc = int(np.bitwise_xor.reduce((_CRC16_POW[:nwords][::-1] * bits).ravel()))
    if len(data) & 1:
        crc = ((crc << 8) & 0xFF00) ^ _CRC16_T[(crc >> 8) ^ data[-1]]
    return crc


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def put(self, value: int, nbits: int) -> None:
        if nbits:
            self._acc = (self._acc << nbits) | (value & ((1 << nbits) - 1))
            self._n += nbits
            while self._n >= 8:
                self._n -= 8
                self.out.append((self._acc >> self._n) & 0xFF)
            self._acc &= (1 << self._n) - 1

    def pad_to_byte(self) -> None:
        if self._n:
            self.put(0, 8 - self._n)


def _pack_bits(values: np.ndarray, nbits: np.ndarray) -> np.ndarray:
    """MSB-first concatenation of ``values[i]`` over ``nbits[i]`` bits,
    zero-padded to a whole byte, as a uint8 array. Every value must be
    below ``2**min(nbits[i], 32)``: a rice code's unary zeros make its
    width unbounded, but its set bits are only the stop bit and the k
    remainder bits. Each value is shifted so its last bit lands on its
    byte's bit position and split over the five bytes it can touch;
    items never share a bit, so summing byte contributions ORs them."""
    ends = np.cumsum(nbits, dtype=np.int64)
    nbytes = (int(ends[-1]) + 7) >> 3 if ends.size else 0
    aligned = np.asarray(values, dtype=np.int64) << (-ends & 7)
    parts = (aligned[:, None] >> _BYTE_SHIFTS) & 0xFF
    where = np.maximum(((ends - 1) >> 3)[:, None] - _BYTE_BACK, 0)
    packed = np.bincount(where.ravel(), parts.ravel(), minlength=nbytes)
    return packed.astype(np.uint8)


_BYTE_BACK = np.arange(5)
_BYTE_SHIFTS = 8 * _BYTE_BACK


class _BitReader:
    """Byte-buffered MSB-first reader. The rice hot loop reads one
    unary quotient + k remainder bits per sample; the accumulator keeps
    that O(1)-ish per call (leading-zero counting via bit_length)
    instead of one Python call per bit — ~6x on the sf1 decode bench."""

    __slots__ = ("data", "byte_pos", "_acc", "_n")

    def __init__(self, data: bytes, byte_pos: int = 0) -> None:
        self.data = data
        self.byte_pos = byte_pos
        self._acc = 0  # low self._n bits are unread, MSB-first
        self._n = 0

    @property
    def bitpos(self) -> int:
        return self.byte_pos * 8 - self._n

    def bits(self, n: int) -> int:
        acc, have = self._acc, self._n
        data, bp = self.data, self.byte_pos
        while have < n:
            acc = (acc << 8) | data[bp]
            bp += 1
            have += 8
        have -= n
        self.byte_pos = bp
        self._n = have
        v = (acc >> have) & ((1 << n) - 1)
        self._acc = acc & ((1 << have) - 1)
        return v

    def bit(self) -> int:
        return self.bits(1)

    def unary(self) -> int:
        q = 0
        while True:
            if self._n == 0:
                self._acc = self.data[self.byte_pos]
                self.byte_pos += 1
                self._n = 8
            v = self._acc
            if v == 0:  # all remaining buffered bits are zeros
                q += self._n
                self._n = 0
                continue
            lead = self._n - v.bit_length()  # zeros before the first 1
            q += lead
            self._n -= lead + 1  # consume the zeros and the 1
            self._acc = v - (1 << (v.bit_length() - 1))
            return q

    def align(self) -> None:
        self._n = 0
        self._acc = 0


def _utf8_coded(n: int) -> bytes:
    """FLAC's UTF-8-style frame-number coding (values < 2^31)."""
    if n < 0x80:
        return bytes([n])
    out = []
    if n < 0x800:
        lead, nbytes = 0xC0, 2
    elif n < 0x10000:
        lead, nbytes = 0xE0, 3
    elif n < 0x200000:
        lead, nbytes = 0xF0, 4
    else:
        lead, nbytes = 0xF8, 5
    for i in range(nbytes - 1):
        out.append(0x80 | (n & 0x3F))
        n >>= 6
    out.append(lead | n)
    return bytes(reversed(out))


def _read_utf8_coded(r: _BitReader) -> int:
    first = r.bits(8)
    if first < 0x80:
        return first
    nbytes = 0
    mask = 0x80
    while first & mask:
        nbytes += 1
        mask >>= 1
    val = first & (mask - 1)
    for _ in range(nbytes - 1):
        cont = r.bits(8)
        if cont >> 6 != 0b10:
            raise ValueError("bad UTF-8 continuation in frame number")
        val = (val << 6) | (cont & 0x3F)
    return val


_BLOCKSIZE = 256  # fixed encode blocksize; last frame may be shorter


def _zigzag(res: np.ndarray) -> np.ndarray:
    """Signed residuals -> FLAC's unsigned rice order 0, -1, 1, -2, ..."""
    res = np.asarray(res)
    return (res << 1) ^ (res >> (8 * res.itemsize - 1))


# --- encoder: a stream is planned and packed in whole-stream numpy passes ---
#
# A stream's blocks are stacked into (blocks, blocksize) matrices, one
# per distinct blocksize (the full frames, then the short tail), and
# every decision a real encoder makes is costed for all rows at once:
# fixed-predictor residuals for orders 0..2, zigzag, the quotient sums
# of all 15 rice parameters at every partition order, and (stereo) the
# four channel assignments. Costs and tie-breaks must not move: the
# emitted bytes are pinned by tests/test_flac_golden.py, which also
# checks the planner against a plain scalar scan. Every subframe bit of
# the stream is then packed in one _pack_bits call.

_K = np.arange(15, dtype=np.int64)  # 4-bit rice parameters (15 is the escape)
# per planner dtype: (k, 1, 1) shift and k + 1 columns
_K_COLS = {
    dt: (_K.astype(dt)[:, None, None], (_K + 1).astype(dt)[:, None, None])
    for dt in (np.int32, np.int64)
}
_NO_PLAN = 1 << 30  # cost of an order whose warm-up fills the block


@functools.lru_cache(maxsize=_BLOCKSIZE)  # encode blocks are 1.._BLOCKSIZE long
def _partition_layout(bs: int):
    """Partition orders a ``bs``-sample block can take (2^po partitions
    must divide it, po <= 6) and, for all of them side by side in po
    order (po's partitions start at 2^po - 1): each partition's length,
    a first-partition mask, and the 0/1 (partition, po) matrix that
    sums partitions per po."""
    po_deep = 0
    while po_deep < 6 and bs % (2 << po_deep) == 0:
        po_deep += 1
    pos = np.arange(po_deep + 1)
    lens = np.concatenate([np.full(1 << p, bs >> p) for p in pos]).astype(np.int64)
    first = np.zeros(lens.size, dtype=np.int64)
    first[(1 << pos) - 1] = 1
    per_po = (np.repeat(pos, 1 << pos)[:, None] == pos[None, :]).astype(np.float64)
    for shared in (pos, lens, first, per_po):  # every caller gets these arrays
        shared.setflags(write=False)
    return po_deep, pos, lens, first, per_po


def _rice_plans(zp: np.ndarray, order: np.ndarray):
    """Cheapest partitioned-rice layout of every row of ``zp``.

    ``zp`` is (rows, bs) zigzagged residuals whose first ``order[r]``
    entries are zero (the predictor warm-up; a zero adds no quotient
    bits at any k, so every partition sum is the residuals' own). Each
    valid partition order po costs 2 + 4 + 4·2^po bits plus, per
    partition, its cheapest rice parameter (lowest k on ties); the
    lowest po wins ties. A po is valid while the first partition keeps
    at least one residual. Returns (po, ks, bits): per row the chosen
    po and its bit count (``_NO_PLAN`` when no po is valid), and the
    (rows, partitions) rice parameters of every po side by side, po's
    2^po partitions starting at 2^po - 1.

    A partition's cost over k, sum(u >> k) + len·(k + 1), is convex
    (each u's step (u >> k) - (u >> k+1) shrinks with k), so its first
    minimum is the number of k whose cost exceeds the next one's; past
    the bit length of the largest residual every quotient is 0 and the
    cost only grows, so larger k are not evaluated. Sums run in int32
    when no partition sum can overflow it."""
    rows, bs = zp.shape
    po_deep, pos, lens, first, per_po = _partition_layout(bs)
    top = int(zp.max(initial=0))
    dt = np.int32 if top < (1 << 31) // (bs + 16) else np.int64
    nk = min(top.bit_length(), 14) + 1
    k_col, k1_col = (c[:nk] for c in _K_COLS[dt])
    q = zp.astype(dt, copy=False)[None] >> k_col  # (k, row, sample)
    step = bs >> po_deep
    if step <= 8:
        qs = q[..., 0::step]
        for j in range(1, step):
            qs = qs + q[..., j::step]
    else:
        qs = q.reshape(nk, rows, 1 << po_deep, step).sum(axis=3)
    levels = [qs]
    for _ in range(po_deep):
        qs = qs[..., 0::2] + qs[..., 1::2]
        levels.append(qs)
    quot = np.concatenate(levels[::-1], axis=2)  # (k, row, partition)
    part_len = (lens[None, :] - order[:, None] * first[None, :]).astype(dt)
    costs = quot + k1_col * part_len[None]
    ks = (costs[:-1] > costs[1:]).sum(axis=0)
    # float64 sums are exact: every count stays far below 2^53
    level_bits = (costs.min(axis=0) @ per_po).astype(np.int64)
    bits = 6 + 4 * (1 << pos)[None, :] + level_bits
    bits = np.where((bs >> pos)[None, :] > order[:, None], bits, _NO_PLAN)
    po = bits.argmin(axis=1)
    return po, ks, bits[np.arange(rows), po]


def _residual_spec(zp: np.ndarray, order: int, po: int, ks: np.ndarray, head: list):
    """Subframe spec ``(head, (codes, ks, lens))`` of a coded-residual
    section: ``head`` gains the method and partition-order fields, and
    ``ks`` / ``lens`` are the chosen po's rice parameters and partition
    lengths (the first is short by the predictor order)."""
    po = int(po)
    off = (1 << po) - 1
    lens = _partition_layout(zp.size)[2][off : 2 * off + 1].copy()
    lens[0] -= order
    head.append((0b00, 2))  # residual method: rice, 4-bit parameter
    head.append((po, 4))
    return head, (zp[order:], ks[off : 2 * off + 1], lens)


class _FixedPlan:
    """The cheapest FIXED subframe (order 0..2, then its rice layout)
    of every row of a (rows, bs) block matrix coded at ``ebps[r]``
    bits per sample: ``order``, ``cost`` (bits after the 8-bit subframe
    header) and :meth:`spec` to emit one row."""

    def __init__(self, blocks: np.ndarray, ebps: np.ndarray) -> None:
        rows, bs = blocks.shape
        # int32 holds every residual: samples are at most 25 bits wide
        zp = np.zeros((3, rows, bs), dtype=np.int32)
        zp[0] = blocks
        zp[1, :, 1:] = np.diff(blocks, axis=1)
        zp[2, :, 2:] = np.diff(zp[1, :, 1:], axis=1)
        zp = _zigzag(zp)  # warm-up zeros stay zero
        po, ks, bits = _rice_plans(
            zp.reshape(3 * rows, bs), np.repeat(np.arange(3), rows)
        )
        # indexed [order, row] from here on
        self.zp, self.po, self.ks = zp, po.reshape(3, rows), ks.reshape(3, rows, -1)
        self.bits = bits.reshape(3, rows)
        costs = self.bits + np.arange(3)[:, None] * ebps[None, :]
        self.order = costs.argmin(axis=0)  # lowest order on ties
        self.cost = costs[self.order, np.arange(rows)]

    def take(self, rows: np.ndarray) -> _FixedPlan:
        """The plan of a subset (or reordering) of the rows."""
        p = object.__new__(_FixedPlan)
        p.zp, p.po, p.ks = self.zp[:, rows], self.po[:, rows], self.ks[:, rows]
        p.bits, p.order, p.cost = self.bits[:, rows], self.order[rows], self.cost[rows]
        return p

    def spec(self, row: int, blk: np.ndarray, wasted: int, ebps: int):
        """Subframe spec of ``row`` (``blk``: its samples after
        wasted-bits stripping)."""
        o = int(self.order[row])
        head = [(0, 1), (0b001000 | o, 6)]
        # wasted-bits flag, then (wasted - 1) in unary
        head += [(1, 1), (1, wasted)] if wasted else [(0, 1)]
        head += [(int(v) & ((1 << ebps) - 1), ebps) for v in blk[:o]]
        # plan bits cover the residual section (method and po included)
        nbits = 8 + wasted + o * ebps + int(self.bits[o, row])
        head, res = _residual_spec(
            self.zp[o, row], o, self.po[o, row], self.ks[o, row], head
        )
        return head, res, nbits


def _wasted_shifts(blocks: np.ndarray, bps: np.ndarray) -> np.ndarray:
    """Per row, the common trailing zero bits of its samples (the FLAC
    wasted-bits field): trailing zeros of the OR of the row — valid in
    two's complement — capped so at least one significant bit remains;
    0 for an all-zero row."""
    orv = np.bitwise_or.reduce(blocks, axis=1).tolist()
    tz = [(v & -v).bit_length() - 1 if v else 0 for v in orv]
    return np.minimum(tz, bps - 2)


def _subframe_specs(blocks: np.ndarray, bps: np.ndarray, plan: _FixedPlan | None = None):
    """Subframe spec ``(head, residuals or None, bits)`` of each row:
    CONSTANT, else FIXED at the cheapest order after wasted-bits
    stripping. ``plan``, when given, plans the same rows unstripped;
    rows without wasted bits reuse it and only the others are planned
    again."""
    const = np.all(blocks == blocks[:, :1], axis=1)
    wasted = np.where(const, 0, _wasted_shifts(blocks, bps))
    sub = blocks >> wasted[:, None]
    ebps = bps - wasted
    redo = {}  # row -> its row in replan
    if plan is None:
        plan = _FixedPlan(sub, ebps)
    elif wasted.any():
        rows = np.flatnonzero(wasted)
        replan = _FixedPlan(sub[rows], ebps[rows])
        redo = dict(zip(rows.tolist(), range(rows.size)))
    specs = []
    for r in range(len(blocks)):
        b, w = int(bps[r]), int(wasted[r])
        if const[r]:
            # zero padding bit, CONSTANT, no wasted bits, the value
            v = int(blocks[r, 0]) & ((1 << b) - 1)
            specs.append(([(0, 1), (0b000000, 6), (0, 1), (v, b)], None, 8 + b))
        elif r in redo:
            specs.append(replan.spec(redo[r], sub[r], w, b - w))
        else:
            specs.append(plan.spec(r, sub[r], w, b - w))
    return specs


def _rice_items(zz, ks, lens, at, values, nbits) -> np.ndarray:
    """(value, nbits) rows of rice-coded residuals ``zz`` — partitions
    of ``lens`` residuals at parameters ``ks`` — with each partition's
    4-bit parameter in front of it and the fixed fields ``values`` /
    ``nbits`` inserted before residual index ``at``. A residual's unary
    quotient, stop bit and k-bit remainder concatenate to
    (1 << k) | rem over (q + 1 + k) bits."""
    k = np.repeat(ks, lens)
    items = np.stack([(1 << k) | (zz & ((1 << k) - 1)), (zz >> k) + 1 + k], axis=1)
    fixed = np.stack(
        [np.concatenate([values, ks]), np.concatenate([nbits, np.full(ks.size, 4)])],
        axis=1,
    )
    # fixed fields sort before a partition parameter at the same index
    return np.insert(items, np.concatenate([at, np.cumsum(lens) - lens]), fixed, axis=0)


def _emit(frames: list) -> bytes:
    """Frame bytes from ``(header, subframe specs)`` pairs: header,
    subframe bits zero-padded to a byte, CRC-16. The subframes of all
    frames are packed in one :func:`_pack_bits` call: the residual
    codes of the whole stream at once, with each subframe's fixed
    fields, each partition's parameter and each frame's padding
    inserted (:func:`_rice_items`)."""
    codes, ks, lens = [_EMPTY], [_EMPTY], [_EMPTY]
    at, hv, hn, sizes = [], [], [], []
    pos = 0  # residual codes so far
    for _header, subs in frames:
        fbits = 0
        for head, res, nbits in subs:
            at += [pos] * len(head)
            hv += [v for v, _ in head]
            hn += [n for _, n in head]
            fbits += nbits
            if res is not None:
                codes.append(res[0])
                ks.append(res[1])
                lens.append(res[2])
                pos += res[0].size
        pad = -fbits % 8
        at.append(pos)
        hv.append(0)
        hn.append(pad)
        sizes.append((fbits + pad) >> 3)
    items = _rice_items(
        np.concatenate(codes), np.concatenate(ks), np.concatenate(lens), at, hv, hn
    )
    body = _pack_bits(items[:, 0], items[:, 1]).tobytes()
    out = []
    start = 0
    for (header, _), size in zip(frames, sizes):
        payload = header + body[start : start + size]
        start += size
        out.append(payload + struct.pack(">H", _crc16(payload)))
    return b"".join(out)


_EMPTY = np.zeros(0, dtype=np.int64)


def _stream_blocks(*channels: np.ndarray):
    """(first frame number, blocks...) per run of equal-size frames:
    the full _BLOCKSIZE frames as one matrix per channel, then the
    short tail frame, if any."""
    n = channels[0].size
    full = n // _BLOCKSIZE * _BLOCKSIZE
    if full:
        yield (0, *(c[:full].reshape(-1, _BLOCKSIZE) for c in channels))
    if full < n:
        yield (full // _BLOCKSIZE, *(c[None, full:] for c in channels))


def _streaminfo(n: int, sample_rate: int, channels: int, bps: int, md5: bytes) -> bytes:
    """"fLaC" magic plus the STREAMINFO block (last metadata block)."""
    bs = min(_BLOCKSIZE, n)
    info = bs << 16 | bs  # min, max blocksize
    info <<= 48  # min, max frame size: unknown
    info = info << 20 | sample_rate & 0xFFFFF
    info = info << 3 | channels - 1
    info = info << 5 | bps - 1
    info = info << 36 | n & ((1 << 36) - 1)
    return b"fLaC\x80" + (34).to_bytes(3, "big") + info.to_bytes(18, "big") + md5


_BPS_CODE = {8: 0b001, 12: 0b010, 16: 0b100, 20: 0b101, 24: 0b110}
_BPS_FROM_CODE = {v: k for k, v in _BPS_CODE.items()}


def _pack_samples(arr: np.ndarray, bps: int) -> bytes:
    """Little-endian ceil(bps/8)-byte packing of the sample stream —
    what the STREAMINFO MD5 is computed over, per spec (r12: the codec
    handles 8/12/16/20/24-bit depths, retiring the 16-bit fence)."""
    if bps <= 8:
        return arr.astype("<i1").tobytes()
    if bps <= 16:
        return arr.astype("<i2").tobytes()
    # 17..24: three bytes per sample, two's complement little-endian
    return (
        arr.astype("<i4").view(np.uint8).reshape(-1, 4)[:, :3].tobytes()
    )


def _frame_header(bs: int, frame_no: int, ch_code: int, bps: int) -> bytes:
    # block size code: 0b1000 = 256 exactly, 0b0111 = 16-bit size after
    # the frame number
    if bs == 256:
        bs_code, bs_tail = 0b1000, b""
    else:
        bs_code, bs_tail = 0b0111, struct.pack(">H", bs - 1)
    word = (
        0b11111111111110 << 18  # sync; reserved; fixed-blocksize stream
        | bs_code << 12
        | 0b0000 << 8  # sample rate: from STREAMINFO
        | ch_code << 4  # 0 = mono; 1 = L/R; 8/9/10 = LS/RS/MS
        | _BPS_CODE[bps] << 1  # then a reserved bit
    )
    header = word.to_bytes(4, "big") + _utf8_coded(frame_no) + bs_tail
    return header + bytes([_crc8(header)])


def _mono_frames(blocks: np.ndarray, frame_no: int, bps: int) -> list:
    """(header, subframes) of mono frames, one per row of ``blocks``,
    numbered from ``frame_no``: each the cheapest of CONSTANT / FIXED
    order 0..2, with wasted-bits stripping and per-partition rice
    parameters like a real encoder."""
    rows, bs = blocks.shape
    specs = _subframe_specs(blocks, np.full(rows, bps))
    return [
        (_frame_header(bs, frame_no + r, 0, bps), [specs[r]]) for r in range(rows)
    ]


def _lpc_frames(
    blocks: np.ndarray, frame_no: int, bps: int,
    coefs: list[int], precision: int, shift: int,
) -> list:
    """(header, subframes) of mono frames, one per row of ``blocks``,
    numbered from ``frame_no``: each one LPC subframe of the given
    quantized predictor (warm-up = the row's first len(coefs) samples)."""
    rows, bs = blocks.shape
    return [
        (_frame_header(bs, frame_no + r, 0, bps),
         [_lpc_spec(blocks[r], bps, coefs, precision, shift)])
        for r in range(rows)
    ]


# Stereo channel assignments in cost-out order (ties keep the first):
# frame channel code -> the two coded channels, as indices into
# (left, right, side, mid). side = L - R at bps+1; mid = (L + R) >> 1.
_STEREO = {0b0001: (0, 1), 0b1000: (0, 2), 0b1001: (2, 1), 0b1010: (3, 2)}


def _stereo_frames(
    left: np.ndarray, right: np.ndarray, frame_no: int, bps: int
) -> list:
    """(header, subframes) of stereo frames, one per row of
    ``left``/``right``, numbered from ``frame_no``. Per frame the
    channel assignment is chosen by cost like a real encoder: cost out
    independent L/R, left/side, right/side and mid/side (each channel
    at its cheapest CONSTANT or FIXED subframe, before wasted-bits
    stripping) and emit the cheapest."""
    rows, bs = left.shape
    chans = np.concatenate([left, right, left - right, (left + right) >> 1])
    widths = np.repeat(bps + np.array([0, 0, 1, 0]), rows)
    plan = _FixedPlan(chans, widths)
    const = np.all(chans == chans[:, :1], axis=1)
    ch_cost = 8 + np.where(const, widths, plan.cost).reshape(4, rows)
    opt = np.array([ch_cost[a] + ch_cost[b] for a, b in _STEREO.values()])
    picks = [list(_STEREO)[i] for i in opt.argmin(axis=0)]
    coded = np.array(
        [c * rows + r for r, code in enumerate(picks) for c in _STEREO[code]]
    )
    specs = _subframe_specs(chans[coded], widths[coded], plan.take(coded))
    return [
        (_frame_header(bs, frame_no + r, code, bps), specs[2 * r : 2 * r + 2])
        for r, code in enumerate(picks)
    ]


def encode_flac(
    samples: np.ndarray, sample_rate: int, bps: int = 16, lpc: tuple | None = None
) -> bytes:
    """Samples of shape (n,) (mono) or (2, n) (left, right) -> FLAC
    stream (STREAMINFO + frames) at any supported depth (8/12/16/20/24
    bits). Mono frames are the cheapest CONSTANT / FIXED subframe;
    stereo frames pick their channel decorrelation by cost. With
    ``lpc = (coefs, precision, shift)`` (mono only) every frame carries
    that LPC predictor instead, except a tail frame too short for its
    warm-up, which goes FIXED."""
    assert bps in _BPS_CODE, bps
    chans = np.atleast_2d(np.asarray(samples, dtype=np.int64))
    nch, n = chans.shape
    lim = 1 << (bps - 1)
    assert n and nch in (1, 2) and (lpc is None or nch == 1)
    assert np.all((chans >= -lim) & (chans <= lim - 1))
    # the MD5 covers the interleaved stream, per spec
    md5 = hashlib.md5(_pack_samples(chans.T.ravel(), bps)).digest()
    frames = []
    for frame_no, *blocks in _stream_blocks(*chans):
        if nch == 2:
            frames += _stereo_frames(*blocks, frame_no, bps)
        elif lpc is not None and blocks[0].shape[1] > len(lpc[0]):
            frames += _lpc_frames(blocks[0], frame_no, bps, *lpc)
        else:
            frames += _mono_frames(blocks[0], frame_no, bps)
    return _streaminfo(n, sample_rate, nch, bps, md5) + _emit(frames)


def _decode_stream(payload: bytes):
    if payload[:4] != b"fLaC":
        raise ValueError("not a FLAC stream")
    pos = 4
    sample_rate = None
    total = None
    md5_expect = None
    while True:  # metadata blocks
        hdr = payload[pos]
        btype, last = hdr & 0x7F, bool(hdr & 0x80)
        length = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        body = payload[pos + 4 : pos + 4 + length]
        if btype == 0:  # STREAMINFO
            r = _BitReader(body)
            r.bits(16)
            r.bits(16)
            r.bits(24)
            r.bits(24)
            sample_rate = r.bits(20)
            nch = r.bits(3) + 1
            bps = r.bits(5) + 1
            total = r.bits(36)
            if bps not in _BPS_CODE:
                raise NotImplementedError(f"unsupported FLAC bit depth {bps}")
            if nch > 2:
                raise NotImplementedError(f"{nch}-channel FLAC")
            md5_expect = body[18:34]
        pos += 4 + length
        if last:
            break
    if sample_rate is None:
        raise ValueError("missing STREAMINFO")

    # Never pre-allocate from the (un-checksummed) STREAMINFO total:
    # a corrupt 36-bit field would demand a 256 GiB buffer. Decode the
    # frames the stream actually holds, then require the count to match.
    frames = []
    got = 0
    while got < total and pos < len(payload):
        frame, consumed = _decode_frame(payload, pos, bps)
        if len(frame) != nch:
            raise ValueError("frame channel layout contradicts STREAMINFO")
        frames.append(frame)
        got += frame.shape[1]
        pos += consumed
    if got != total:
        raise ValueError(
            f"FLAC sample-count mismatch: STREAMINFO says {total}, stream "
            f"holds {got}"
        )
    return sample_rate, frames, md5_expect, bps


def decode_flac(payload: bytes):
    """FLAC stream -> (sample_rate, samples): ``samples`` is (channels,
    n), int16 up to 16 bits per sample, else int32. Undoes each stereo
    frame's channel decorrelation (independent / left-side / right-side
    / mid-side) and verifies frame CRC-8/CRC-16 and the STREAMINFO MD5
    over the interleaved stream, so a reconstruction or interleave bug
    cannot pass."""
    try:
        sample_rate, frames, md5_expect, bps = _decode_stream(payload)
    except (IndexError, OverflowError, struct.error) as e:  # corrupt stream
        raise ValueError(f"truncated or corrupt FLAC: {e!r}") from e
    chans = np.concatenate(frames, axis=1)
    if hashlib.md5(_pack_samples(chans.T.ravel(), bps)).digest() != md5_expect:
        raise ValueError("FLAC MD5 mismatch: decoded stream corrupt")
    return sample_rate, chans.astype("<i2" if bps <= 16 else "<i4")


def _decode_frame(payload: bytes, byte_pos: int, stream_bps: int = 16):
    """One frame at ``byte_pos`` -> ((channels, bs) samples, bytes
    consumed), both checksums verified."""
    r = _BitReader(payload, byte_pos)
    if r.bits(14) != 0b11111111111110:
        raise ValueError("lost frame sync")
    r.bit()  # reserved
    r.bit()  # blocking strategy
    bs_code = r.bits(4)
    sr_code = r.bits(4)
    ch_code = r.bits(4)
    bps_code = r.bits(3)
    r.bit()  # reserved
    if ch_code not in (0b0000, 0b0001, 0b1000, 0b1001, 0b1010):
        raise NotImplementedError(f"channel assignment {ch_code:#06b}")
    bps = _BPS_FROM_CODE.get(bps_code)
    if bps is None:
        raise NotImplementedError(f"bit-depth code {bps_code:#05b}")
    if bps != stream_bps:
        raise ValueError("frame bit depth contradicts STREAMINFO")
    _frame_no = _read_utf8_coded(r)
    if bs_code == 0b1000:
        bs = 256
    elif bs_code == 0b0111:
        bs = r.bits(16) + 1
    elif bs_code == 0b0110:
        bs = r.bits(8) + 1
    else:
        raise NotImplementedError(f"blocksize code {bs_code:#06b}")
    if sr_code != 0:
        raise NotImplementedError("per-frame sample rate")
    header_end = (r.bitpos + 7) >> 3  # CRC-8 covers bytes up to here
    crc8_read = r.bits(8)
    if _crc8(payload[byte_pos:header_end]) != crc8_read:
        raise ValueError("frame header CRC-8 mismatch")

    if ch_code == 0b0000:
        frame = _decode_subframe(r, bs, bps)[None]
    else:
        bps1 = bps + 1 if ch_code == 0b1001 else bps  # RS: ch1 is the side
        bps2 = bps + 1 if ch_code in (0b1000, 0b1010) else bps  # LS/MS side
        ch1 = _decode_subframe(r, bs, bps1)
        ch2 = _decode_subframe(r, bs, bps2)
        if ch_code == 0b0001:  # independent L, R
            left, right = ch1, ch2
        elif ch_code == 0b1000:  # left/side: side = L - R
            left, right = ch1, ch1 - ch2
        elif ch_code == 0b1001:  # side/right
            left, right = ch1 + ch2, ch2
        else:  # mid/side: mid = (L + R) >> 1, side = L - R
            mid2 = (ch1 << 1) | (ch2 & 1)
            left = (mid2 + ch2) >> 1
            right = (mid2 - ch2) >> 1
        frame = np.stack([left, right])

    r.align()
    frame_end = r.bitpos >> 3
    crc16_read = r.bits(16)
    if _crc16(payload[byte_pos:frame_end]) != crc16_read:
        raise ValueError("frame CRC-16 mismatch")
    return frame, (r.bitpos >> 3) - byte_pos


def _decode_subframe(r: _BitReader, bs: int, bps: int) -> np.ndarray:
    if r.bit() != 0:
        raise ValueError("subframe padding bit set")
    sf_type = r.bits(6)
    wasted = 0
    if r.bit():  # r12: wasted-bits field — flag then unary(count - 1)
        wasted = r.unary() + 1
        if wasted >= bps:
            raise ValueError("wasted bits exhaust the sample width")
    bps -= wasted  # decode at the reduced width, shift back at the end
    sign = 1 << (bps - 1)
    full = 1 << bps
    if sf_type == 0b000000:  # CONSTANT
        v = r.bits(bps)
        if v >= sign:
            v -= full
        blk = np.full(bs, v, dtype=np.int64)
    elif sf_type == 0b000001:  # VERBATIM
        vals = []
        for _ in range(bs):
            v = r.bits(bps)
            vals.append(v - full if v >= sign else v)
        blk = np.array(vals, dtype=np.int64)
    elif 0b001000 <= sf_type <= 0b001100:  # FIXED order 0..4
        order = sf_type & 0b000111
        warm = []
        for _ in range(order):
            v = r.bits(bps)
            warm.append(v - full if v >= sign else v)
        if order > bs:
            raise ValueError("FIXED warm-up longer than the block")
        blk = np.array(_read_residuals(r, bs, order), dtype=np.int64)
        # The order-k difference of the block is its residual: integrate
        # `order` times, each level m seeded with the warm-up's m-th
        # difference at its first defined sample.
        warm = np.array(warm, dtype=np.int64)
        for m in range(order - 1, -1, -1):
            blk = np.cumsum(np.concatenate([np.diff(warm, m)[:1], blk]))
    elif sf_type >= 0b100000:  # LPC order 1..32 — what real files use
        order = (sf_type & 0b011111) + 1
        warm = []
        for _ in range(order):
            v = r.bits(bps)
            warm.append(v - full if v >= sign else v)
        precision = r.bits(4) + 1
        if precision == 16:  # coded 0b1111 is invalid per spec
            raise ValueError("invalid QLP precision escape")
        shift = r.bits(5)  # signed per spec but negative is forbidden
        if shift >= 16:
            raise ValueError("negative QLP shift")
        psign = 1 << (precision - 1)
        pfull = 1 << precision
        coefs = []
        for _ in range(order):
            c = r.bits(precision)
            coefs.append(c - pfull if c >= psign else c)
        res = _read_residuals(r, bs, order)
        blk = np.empty(bs, dtype=np.int64)
        blk[:order] = warm
        for i, e in enumerate(res):
            pred = 0
            base = i + order
            for j, c in enumerate(coefs):
                pred += c * int(blk[base - 1 - j])
            blk[base] = e + (pred >> shift)
    else:
        raise NotImplementedError(f"subframe type {sf_type:#08b}")
    return blk << wasted if wasted else blk


def _read_residuals(r: _BitReader, bs: int, order: int) -> list[int]:
    """Coded-residual section shared by FIXED and LPC subframes: rice
    (4- or 5-bit parameter) with the escape to raw, any partition order
    0..15 (r12 — real encoders emit partitioned rice almost
    universally). 2^po partitions; the first is short by the predictor
    order; each carries its own parameter."""
    method = r.bits(2)
    if method not in (0b00, 0b01):
        raise ValueError("reserved residual method")
    part_order = r.bits(4)
    nparts = 1 << part_order
    if bs % nparts:
        raise ValueError("partition count does not divide blocksize")
    if (bs >> part_order) <= order and part_order:
        raise ValueError("first partition shorter than predictor order")
    kbits = 4 if method == 0b00 else 5
    escape = (1 << kbits) - 1
    res: list[int] = []
    for pn in range(nparts):
        count = (bs >> part_order) - (order if pn == 0 else 0)
        k = r.bits(kbits)
        if k == escape:  # escape: raw residuals at a fixed width
            rawbits = r.bits(5)
            if rawbits == 0:
                res.extend([0] * count)
            else:
                res.extend(
                    v - (1 << rawbits) if v >= 1 << (rawbits - 1) else v
                    for v in (r.bits(rawbits) for _ in range(count))
                )
            continue
        # r14: the unary+remainder+unzigzag hot loop runs with the
        # reader state in locals — one Python frame per SAMPLE instead
        # of three method calls (unary, bits, _unzigzag); semantics are
        # byte-for-byte those of the _BitReader methods.
        data, bp, acc, n = r.data, r.byte_pos, r._acc, r._n
        kmask = (1 << k) - 1
        append = res.append
        for _ in range(count):
            q = 0
            while True:
                if n == 0:
                    acc = data[bp]
                    bp += 1
                    n = 8
                if acc == 0:
                    q += n
                    n = 0
                    continue
                bl = acc.bit_length()
                q += n - bl
                n = bl - 1
                acc -= 1 << n
                break
            while n < k:
                acc = (acc << 8) | data[bp]
                bp += 1
                n += 8
            n -= k
            u = (q << k) | ((acc >> n) & kmask)
            acc &= (1 << n) - 1
            append((u >> 1) if (u & 1) == 0 else -((u + 1) >> 1))
        r.byte_pos, r._acc, r._n = bp, acc, n
    return res


# --- deterministic payload synthesis (integer arithmetic => SQL oracle) -----


def formula_flac_samples(doc_id: int) -> tuple[int, np.ndarray]:
    """(sample_rate, samples) for doc_id — pure integer arithmetic the
    DuckDB oracle recomputes: n = 200 + doc_id % 400 (1..3 frames at
    blocksize 256, last frame short), rate = 8000 + (doc_id % 3) * 4000.
    Sample stream is three regimes so every subframe type occurs:
      i < 64          : constant   ((doc_id * 7) % 1001) - 500
      64 <= i < 128   : linear ramp (order-1/2 friendly)
                        base + (i - 64) * (1 + doc_id % 5)
      i >= 128        : pseudo-noise ((doc_id*31 + i*i*17) % 4001) - 2000
    """
    n = 200 + doc_id % 400
    rate = 8000 + (doc_id % 3) * 4000
    i = np.arange(n, dtype=np.int64)
    const = (doc_id * 7) % 1001 - 500
    ramp = const + (i - 64) * (1 + doc_id % 5)
    noise = (doc_id * 31 + i * i * 17) % 4001 - 2000
    s = np.where(i < 64, const, np.where(i < 128, ramp, noise))
    return rate, s


def gen_flac_payload(doc_id: int) -> bytes:
    rate, s = formula_flac_samples(doc_id)
    return encode_flac(s, rate)


def formula_flac_stereo_samples(doc_id: int):
    """(sample_rate, left, right) — integer arithmetic the DuckDB oracle
    recomputes. L is pseudo-noise throughout; R tracks L with a small
    wobble for i < n//2 (side channel tiny -> mid/side or left/side
    wins the per-frame cost-out) and is independent noise after (the
    independent L/R assignment wins), so a single payload exercises
    multiple decorrelation modes across its frames:
      n = 200 + doc_id % 300, rate = 8000 + (doc_id % 3) * 4000
      L(i) = (doc_id * 31 + i * i * 13) % 3001 - 1500
      R(i) = L(i) + ((doc_id + i) % 21) - 10          for i < n // 2
             (doc_id * 17 + i * i * 29) % 12001 - 6000 otherwise
    (the wider independent range makes c(L)+c(R) beat mid/side there,
    so both the decorrelated and independent reconstructions are
    exercised under the hash oracle)
    """
    n = 200 + doc_id % 300
    rate = 8000 + (doc_id % 3) * 4000
    i = np.arange(n, dtype=np.int64)
    left = (doc_id * 31 + i * i * 13) % 3001 - 1500
    wobble = left + (doc_id + i) % 21 - 10
    indep = (doc_id * 17 + i * i * 29) % 12001 - 6000
    right = np.where(i < n // 2, wobble, indep)
    return rate, left, right


def gen_flac_stereo_payload(doc_id: int) -> bytes:
    rate, left, right = formula_flac_stereo_samples(doc_id)
    return encode_flac(np.stack([left, right]), rate)


def _lpc_spec(blk: np.ndarray, bps: int, coefs: list[int], precision: int, shift: int):
    """LPC subframe spec (test/interop aid: the oracle keys emit FIXED
    subframes, but the decoder supports LPC because real-world FLAC
    files overwhelmingly use it — this writer exists so that support is
    round-trip-TESTED, not merely claimed). Residuals use the same
    integer prediction the decoder inverts:
    e[i] = x[i] - ((sum c[j]*x[i-1-j]) >> shift)."""
    order = len(coefs)
    assert 1 <= order <= 32 and 1 <= precision <= 15 and 0 <= shift <= 15
    psign = 1 << (precision - 1)
    assert all(-psign <= c < psign for c in coefs)
    x = blk.astype(np.int64)
    pred = sum(c * x[order - 1 - j : x.size - 1 - j] for j, c in enumerate(coefs))
    zp = np.zeros((1, x.size), dtype=np.int64)
    zp[0, order:] = _zigzag(x[order:] - (pred >> shift))
    po, ks, bits = _rice_plans(zp, np.array([order]))
    head = [(0, 1), (0b100000 | (order - 1), 6), (0, 1)]  # no wasted bits
    head += [(int(v) & ((1 << bps) - 1), bps) for v in x[:order]]
    head += [(precision - 1, 4), (shift, 5)]
    head += [(c & ((1 << precision) - 1), precision) for c in coefs]
    nbits = sum(n for _, n in head) + int(bits[0])
    head, res = _residual_spec(zp[0], order, po[0], ks[0], head)
    return head, res, nbits


def formula_flac_lpc(doc_id: int):
    """(rate, samples, coefs, precision, shift) — the LPC key's fixture.
    Samples are a slow random walk (LPC-friendly); the quantized
    predictor itself varies per doc: order 1 + doc_id % 3 with
    c[j] = 16 + ((doc_id + 7 j) % 17) at precision 8, shift 5 — taps in
    [0.5, 1.03] of unity, so residuals stay small but nonzero and the
    rice parameter ranges across docs."""
    n = 180 + doc_id % 200
    rate = 8000 + (doc_id % 3) * 4000
    i = np.arange(n, dtype=np.int64)
    step = (doc_id * 13 + i * i * 7) % 41 - 20
    s = np.cumsum(step) + (doc_id % 500)
    order = 1 + doc_id % 3
    coefs = [16 + (doc_id + 7 * j) % 17 for j in range(order)]
    return rate, s, coefs, 8, 5


def formula_flac_depth(doc_id: int):
    """(rate, bps, samples) for the bit-depth key (r12): depth cycles
    8/16/24 by doc_id %% 3, sample magnitudes scale with the depth —
    constant head (subframe variety) then quadratic-hash noise, all
    integer arithmetic the DuckDB oracle recomputes:
      bps 8:  C=121,   M=241      (|s| <= 120)
      bps 16: C=1001,  M=4001     (|s| <= 2000)
      bps 24: C=100001, M=1000001 (|s| <= 500000)
      s(i) = (doc*7) %% C - C div 2            for i < 64
             (doc*31 + i*i*17) %% M - M div 2  otherwise
      n = 200 + doc %% 300, rate = 8000 + (doc %% 3) * 4000."""
    bps = (8, 16, 24)[doc_id % 3]
    C = {8: 121, 16: 1001, 24: 100001}[bps]
    M = {8: 241, 16: 4001, 24: 1000001}[bps]
    n = 200 + doc_id % 300
    rate = 8000 + (doc_id % 3) * 4000
    i = np.arange(n, dtype=np.int64)
    const = (doc_id * 7) % C - C // 2
    noise = (doc_id * 31 + i * i * 17) % M - M // 2
    return rate, bps, np.where(i < 64, const, noise)


def gen_flac_depth_payload(doc_id: int) -> bytes:
    rate, bps, s = formula_flac_depth(doc_id)
    return encode_flac(s, rate, bps=bps)


def formula_flac_wasted(doc_id: int) -> tuple[int, np.ndarray]:
    """(rate, samples) for the wasted-bits key (r12): the three-regime
    mono formula scaled by 2^(doc_id % 4) — three quarters of docs
    share 1..3 trailing zero bits across every sample, so the encoder's
    wasted-bits stripping (and the decoder's shift-back) runs under the
    hash oracle; the %4==0 quarter keeps the plain path as contrast.
    Max |sample| 2000·8 = 16000, comfortably int16."""
    rate, s = formula_flac_samples(doc_id)
    return rate, s << (doc_id % 4)


def gen_flac_wasted_payload(doc_id: int) -> bytes:
    rate, s = formula_flac_wasted(doc_id)
    return encode_flac(s, rate)


def gen_flac_lpc_payload(doc_id: int) -> bytes:
    rate, s, coefs, precision, shift = formula_flac_lpc(doc_id)
    return encode_flac(s, rate, lpc=(coefs, precision, shift))
