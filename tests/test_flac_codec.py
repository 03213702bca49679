"""Unit tests for the FLAC codec (ops/flac.py, round 11).

The query-level hash oracle (test_oracle_parity: multimodal_flac_decode)
pins the end-to-end pipeline; these pin codec internals: bit-exact
round-trips over adversarial streams, every subframe type, rice
parameter extremes, the three checksums actually rejecting corruption,
and frame/blocksize edge cases.
"""

from __future__ import annotations

import numpy as np
import pytest

from sim_spark.ops.flac import (
    _BLOCKSIZE,
    _crc8,
    _crc16,
    decode_flac,
    encode_flac,
    formula_flac_samples,
    gen_flac_payload,
)


def _roundtrip(samples, rate=8000):
    s = np.asarray(samples, dtype=np.int64)
    r2, (s2,) = decode_flac(encode_flac(s, rate))
    assert r2 == rate
    assert np.array_equal(s2.astype(np.int64), s)


def test_formula_roundtrip_exact():
    for d in (0, 1, 2, 5, 63, 64, 128, 255, 256, 399, 4999):
        rate, s = formula_flac_samples(d)
        r2, (s2,) = decode_flac(gen_flac_payload(d))
        assert r2 == rate and np.array_equal(s2.astype(np.int64), s)


def test_constant_stream_uses_constant_subframe():
    s = np.full(600, -123, dtype=np.int64)
    payload = encode_flac(s, 8000)
    # constant subframes: 3 frames of ~6 bytes body each, far below raw
    assert len(payload) < 600 * 2 // 4
    _roundtrip(s)


def test_every_fixed_order_and_rice_extremes():
    rng = np.random.default_rng(3)
    _roundtrip(rng.integers(-5, 5, 700))  # small residuals, k ~ 0
    _roundtrip(rng.integers(-32768, 32768, 700))  # full range, k large
    _roundtrip(np.arange(700) % 20000)  # ramp -> order 1/2
    _roundtrip(np.cumsum(rng.integers(-50, 50, 700)))  # random walk


def test_single_sample_and_exact_blocksize_multiples():
    _roundtrip([17])
    _roundtrip(np.arange(_BLOCKSIZE, dtype=np.int64) - 100)
    _roundtrip(np.arange(2 * _BLOCKSIZE, dtype=np.int64) % 3000)


def test_corruption_detected_everywhere_checksummed():
    """Every bit-flip in a CHECKSUMMED region (frames: CRC-8/CRC-16;
    decoded stream + stored MD5) must be rejected. FLAC has no metadata
    checksum, so STREAMINFO's blocksize / frame-size / sample-rate stat
    bytes (abs 8..19) are spec-legitimately unverifiable (real decoders
    can't catch those flips either) and excluded; the MD5 bytes
    (abs 26..41) ARE probed — a flipped stored digest must reject."""
    payload = bytearray(gen_flac_payload(11))
    probes = [p for p in range(4, len(payload)) if not (8 <= p < 20)]
    hits = 0
    for pos in probes:
        p = bytearray(payload)
        p[pos] ^= 0x08
        try:
            decode_flac(bytes(p))
        except (ValueError, NotImplementedError, IndexError):
            hits += 1
    assert hits == len(probes)


def test_crc_vectors():
    # independently computable check values for the two generators
    assert _crc8(b"") == 0 and _crc16(b"") == 0
    assert _crc8(b"\x01") == 0x07
    assert _crc16(b"123456789") == 0xFEE8  # CRC-16/BUYPASS check value


def test_rejects_non_flac_and_stereo():
    with pytest.raises(ValueError):
        decode_flac(b"RIFF not flac")
    # patch STREAMINFO channel bits (byte 12 of streaminfo holds
    # sample-rate low nibble + channels-1 (bits 3..1) + bps high bit)
    payload = bytearray(gen_flac_payload(3))
    payload[8 + 12] ^= 0b00000010  # channels 1 -> 2 over mono frames
    with pytest.raises(ValueError, match="channel layout contradicts"):
        decode_flac(bytes(payload))
    payload[8 + 12] ^= 0b00000110  # channels -> 3: out of scope
    with pytest.raises(NotImplementedError, match="3-channel"):
        decode_flac(bytes(payload))


def test_md5_is_real():
    import hashlib

    rate, s = formula_flac_samples(8)
    payload = gen_flac_payload(8)
    md5 = payload[8 + 18 : 8 + 34]
    assert md5 == hashlib.md5(s.astype("<i2").tobytes()).digest()


# --- stereo (r11) -----------------------------------------------------------


def test_stereo_formula_roundtrip_exact():
    from sim_spark.ops.flac import formula_flac_stereo_samples, gen_flac_stereo_payload

    for d in (0, 1, 2, 5, 99, 100, 299, 4999):
        rate, left, right = formula_flac_stereo_samples(d)
        r2, (l2, rr2) = decode_flac(gen_flac_stereo_payload(d))
        assert r2 == rate and l2.dtype == np.dtype("<i2")
        assert np.array_equal(l2.astype(np.int64), left)
        assert np.array_equal(rr2.astype(np.int64), right)


def _frame_codes(p: bytes) -> list[int]:
    """The channel-assignment code of every frame of stream ``p``."""
    import sim_spark.ops.flac as fl

    pos = 4
    while True:
        hdr = p[pos]
        pos += 4 + int.from_bytes(p[pos + 1 : pos + 4], "big")
        if hdr & 0x80:
            break
    codes = []
    while pos < len(p):
        codes.append(p[pos + 3] >> 4)
        _frame, consumed = fl._decode_frame(p, pos)
        pos += consumed
    return codes


def test_stereo_all_four_reconstructions():
    """Inputs chosen so the encoder's cost-out picks each channel
    assignment in every frame (a cheap ramp against noise, or noise of
    very different widths); each stream round-trips exactly, so the
    left/side, side/right and mid/side reconstructions are all run."""
    rng = np.random.default_rng(1)
    n = 3 * 256 + 40  # full frames and a short tail
    ramp = np.arange(n, dtype=np.int64) * 7 - 2800
    noise = rng.integers(-40, 40, n)
    cases = {
        0b1000: (ramp, ramp - noise),  # left/side
        0b1001: (ramp + noise, ramp),  # side/right
        0b1010: (ramp + noise, ramp - noise + ramp % 2),  # mid/side, odd sides
        0b0001: (rng.integers(-50, 50, n), rng.integers(-20000, 20000, n)),
    }
    for code, (left, right) in cases.items():
        payload = encode_flac(np.stack([left, right]), 8000)
        assert _frame_codes(payload) == [code] * 4, code
        rate, (l2, r2) = decode_flac(payload)
        assert rate == 8000
        assert np.array_equal(l2, left) and np.array_equal(r2, right), code


def test_stereo_fixture_uses_multiple_assignments():
    """The two-regime fixture must actually exercise both an
    independent and a decorrelated assignment under the hash oracle."""
    import sim_spark.ops.flac as fl

    seen = set()
    for d in range(100):
        seen.update(_frame_codes(fl.gen_flac_stereo_payload(d)))
    assert 0b0001 in seen and (seen & {0b1000, 0b1001, 0b1010})


def test_stereo_md5_is_over_interleaved_stream():
    import hashlib

    from sim_spark.ops.flac import formula_flac_stereo_samples, gen_flac_stereo_payload

    rate, left, right = formula_flac_stereo_samples(8)
    inter = np.empty(2 * left.size, dtype="<i2")
    inter[0::2] = left.astype("<i2")
    inter[1::2] = right.astype("<i2")
    payload = gen_flac_stereo_payload(8)
    assert payload[8 + 18 : 8 + 34] == hashlib.md5(inter.tobytes()).digest()


def test_lpc_subframe_decode_roundtrip():
    """Decode-side LPC (what real FLAC files use): encode streams whose
    frames carry a genuine LPC predictor at several orders/shifts and
    require bit-exact reconstruction through the public decoder."""
    rng = np.random.default_rng(5)
    base = np.cumsum(rng.integers(-80, 80, 256)).astype(np.int64)
    cases = [
        ([1 << 4], 6, 4),                 # order 1, c=1.0 at shift 4
        ([2 << 5, -(1 << 5)], 8, 5),      # order 2 ~ fixed-2 predictor
        ([3 << 3, -(3 << 3), 1 << 3], 6, 3),
        (list(rng.integers(-100, 100, 8)), 8, 6),  # order 8, random taps
    ]
    for coefs, precision, shift in cases:
        coefs = [int(c) for c in coefs]
        payload = encode_flac(base, 8000, lpc=(coefs, precision, shift))
        # the one frame's subframe header (after 42 + 6 header bytes):
        # padding bit, LPC type 0b1xxxxx with order - 1, no wasted bits
        assert payload[48] >> 1 == 0b100000 | (len(coefs) - 1)
        rate, (s2,) = decode_flac(payload)
        assert np.array_equal(s2, base), (coefs, precision, shift)


def test_lpc_rejects_invalid_precision_escape():
    import sim_spark.ops.flac as fl

    payload = bytearray(encode_flac(np.arange(256), 8000, lpc=([16], 6, 4)))
    # the one frame starts at 42 (fLaC + STREAMINFO), its subframe after
    # the 6-byte header: 0 | type(6) | 0 | warm(16) | precision-1(4) ...
    # set the precision field to 0b1111 (the escape) and re-seal CRC-16
    bit = (42 + 6) * 8 + 1 + 6 + 1 + 16
    for i in range(4):
        payload[(bit + i) // 8] |= 0x80 >> ((bit + i) % 8)
    payload[-2:] = fl._crc16(bytes(payload[42:-2])).to_bytes(2, "big")
    with pytest.raises(ValueError, match="precision escape"):
        fl._decode_frame(bytes(payload), 42)


def test_fixed_orders_3_and_4_decode_exactly():
    """The encoder only emits FIXED orders 0..2; hand-built order 3 and
    4 subframes (warm-up samples, then the order-k differences rice
    coded by the encoder's own planner) must decode to the block."""
    import hashlib

    import sim_spark.ops.flac as fl

    rng = np.random.default_rng(34)
    for bs in (256, 37, 5):
        for order in (3, 4):
            i = np.arange(bs, dtype=np.int64)
            x = (i * i * 3 - i * 250 + rng.integers(-900, 900, bs)) % 60000 - 30000
            x[bs // 2] = -32768  # a large residual around the extreme
            zp = np.zeros((1, bs), dtype=np.int64)
            zp[0, order:] = fl._zigzag(np.diff(x, order))
            po, ks, bits = fl._rice_plans(zp, np.array([order]))
            head = [(0, 1), (0b001000 | order, 6), (0, 1)]
            head += [(int(v) & 0xFFFF, 16) for v in x[:order]]
            nbits = sum(n for _, n in head) + int(bits[0])
            head, res = fl._residual_spec(zp[0], order, po[0], ks[0], head)
            frame = fl._emit([(fl._frame_header(bs, 0, 0, 16), [(head, res, nbits)])])
            md5 = hashlib.md5(x.astype("<i2").tobytes()).digest()
            rate, (s2,) = decode_flac(fl._streaminfo(bs, 8000, 1, 16, md5) + frame)
            assert np.array_equal(s2, x), (bs, order)
    # a 2-sample block cannot hold an order-3 warm-up: typed refusal
    w = fl._BitWriter()
    for v, n in [(0, 1), (0b001011, 6), (0, 1), (5, 16), (6, 16), (7, 16),
                 (0, 2), (0, 4), (0, 4)]:
        w.put(v, n)
    w.pad_to_byte()
    frame = fl._frame_header(2, 0, 0, 16) + bytes(w.out)
    frame += fl._crc16(frame).to_bytes(2, "big")
    with pytest.raises(ValueError, match="warm-up longer"):
        fl._decode_frame(frame, 0)


def test_lpc_full_stream_roundtrip_and_compression():
    from sim_spark.ops.flac import formula_flac_lpc, gen_flac_lpc_payload

    for d in (0, 1, 2, 76, 77, 78, 199, 4999):  # 76..78: short tail frames
        rate, s, coefs, precision, shift = formula_flac_lpc(d)
        r2, (s2,) = decode_flac(gen_flac_lpc_payload(d))
        assert r2 == rate and np.array_equal(s2.astype(np.int64), s)
    # the predictor must genuinely compress the walk fixture
    raw = formula_flac_lpc(7)[1].size * 2
    assert len(gen_flac_lpc_payload(7)) < raw


def test_garbage_and_truncation_raise_typed_errors():
    """Untrusted bytes at scale: every failure must be a ValueError /
    NotImplementedError (never IndexError/AssertionError, never a hang)
    for random garbage behind a valid magic and for every truncation
    of a valid stream."""
    import numpy as np

    from sim_spark.ops.flac import decode_flac, gen_flac_payload

    rng = np.random.default_rng(0)
    for _ in range(100):
        p = b"fLaC" + rng.integers(0, 256, 200, dtype=np.uint8).tobytes()
        with pytest.raises((ValueError, NotImplementedError)):
            decode_flac(p)
    v = gen_flac_payload(7)
    for k in range(4, len(v)):
        with pytest.raises((ValueError, NotImplementedError)):
            decode_flac(v[:k])


def test_wasted_bits_roundtrip_and_occurrence():
    """r12: the wasted-bits fixture round-trips exactly, and the
    encoder genuinely emits the wasted-bits field (spied via a
    recording subframe parser) with exactly the doc's scale shift on
    every FIXED subframe — and never on the %4 == 0 contrast docs."""
    import numpy as np

    import sim_spark.ops.flac as fl

    for d in (0, 1, 2, 3, 4, 5, 6, 7, 401, 402, 403):
        rate, s = fl.formula_flac_wasted(d)
        r2, (s2,) = fl.decode_flac(fl.gen_flac_wasted_payload(d))
        assert r2 == rate and np.array_equal(s2.astype(np.int64), s)

    recorded: dict[int, set[int]] = {}
    orig = fl._decode_subframe

    def recording(r, bs, bps, _orig=orig):
        save = r.bitpos
        if r.bit() != 0:
            raise ValueError("subframe padding bit set")
        sf_type = r.bits(6)
        w = (r.unary() + 1) if r.bit() else 0
        # CONSTANT subframes never carry wasted bits in our encoder
        recorded.setdefault(recording.doc, set()).add(
            w if sf_type != 0 else -1
        )
        r.byte_pos = save >> 3
        r._acc = 0
        r._n = 0
        if save & 7:
            r.bits(save & 7)
        return _orig(r, bs, bps)

    fl._decode_subframe = recording
    try:
        for d in (0, 1, 2, 3, 4, 5, 6, 7):
            recording.doc = d
            fl.decode_flac(fl.gen_flac_wasted_payload(d))
    finally:
        fl._decode_subframe = orig
    for d, ws in recorded.items():
        fixed_ws = {w for w in ws if w >= 0}
        if fixed_ws:
            assert fixed_ws == {d % 4}, (d, ws)
    assert any({1, 2, 3} & ws for ws in recorded.values())


def test_partitioned_rice_occurs_and_roundtrips():
    """r12: real encoders emit partitioned rice almost universally —
    now so does ours, whenever it is cheaper. Assert partition orders
    above 0 genuinely occur across the three FLAC fixtures (spied via
    _read_residuals) and that every such payload still round-trips
    bit-exactly with all three checksums verified."""
    import numpy as np

    import sim_spark.ops.flac as fl

    seen: set[int] = set()
    orig = fl._read_residuals

    def recording(r, bs, order, _orig=orig):
        save = r.bitpos
        r.bits(2)
        seen.add(r.bits(4))
        r.byte_pos = save >> 3
        r._acc = 0
        r._n = 0
        if save & 7:
            r.bits(save & 7)
        return _orig(r, bs, order)

    fl._read_residuals = recording
    try:
        for d in (0, 3, 7, 50, 123, 200, 399):
            rate, s = fl.formula_flac_samples(d)
            r2, (s2,) = fl.decode_flac(fl.gen_flac_payload(d))
            assert r2 == rate and np.array_equal(s2.astype(np.int64), s)
        for d in (0, 7, 50, 123):
            rate, sl, sr = fl.formula_flac_stereo_samples(d)
            _r, (l2, r2_) = fl.decode_flac(fl.gen_flac_stereo_payload(d))
            assert np.array_equal(l2.astype(np.int64), sl)
            assert np.array_equal(r2_.astype(np.int64), sr)
        for d in (0, 7, 77, 199):
            rate, s, *_ = fl.formula_flac_lpc(d)
            _r, (s2,) = fl.decode_flac(fl.gen_flac_lpc_payload(d))
            assert np.array_equal(s2.astype(np.int64), s)
    finally:
        fl._read_residuals = orig
    assert 0 in seen and any(po > 0 for po in seen), seen


def test_partitioned_rice_rejects_malformed_partitions():
    """Typed errors on the new fields: a partition count that does not
    divide the blocksize, and a first partition shorter than the
    predictor order, both raise ValueError (not IndexError)."""
    import numpy as np

    import sim_spark.ops.flac as fl

    # craft a FIXED order-0 subframe body with po=5 over blocksize 200
    # (200 % 32 != 0) by encoding a valid stream then flipping the
    # partition-order nibble is brittle; instead call the parser direct.
    w = fl._BitWriter()
    w.put(0b00, 2)
    w.put(5, 4)  # 32 partitions over bs=200 -> invalid
    w.put(0, 4)
    w.pad_to_byte()
    r = fl._BitReader(bytes(w.out))
    with pytest.raises(ValueError):
        fl._read_residuals(r, 200, 0)
    w2 = fl._BitWriter()
    w2.put(0b00, 2)
    w2.put(7, 4)  # 128 partitions over bs=256 -> first partition 2 < order 3
    w2.pad_to_byte()
    r2 = fl._BitReader(bytes(w2.out))
    with pytest.raises(ValueError):
        fl._read_residuals(r2, 256, 3)


def test_bit_depths_roundtrip_and_cross_checks():
    """r12: 8/16/24-bit mono streams round-trip exactly; the MD5 packs
    at ceil(bps/8) little-endian bytes; a frame whose bit-depth code
    contradicts STREAMINFO raises the typed error."""
    import numpy as np

    import sim_spark.ops.flac as fl

    for d in (0, 1, 2, 3, 4, 5, 100, 101, 102, 299):
        rate, bps, s = fl.formula_flac_depth(d)
        pay = fl.gen_flac_depth_payload(d)
        r2, (s2,) = fl.decode_flac(pay)
        assert r2 == rate and np.array_equal(s2.astype(np.int64), s), (d, bps)
        assert s2.dtype == (np.dtype("<i4") if bps > 16 else np.dtype("<i2"))
    # extremes of each depth survive
    for bps in (8, 16, 24):
        lim = 1 << (bps - 1)
        s = np.array([-lim, lim - 1, 0, -1, 1] * 60, dtype=np.int64)
        r2, (s2,) = fl.decode_flac(fl.encode_flac(s, 8000, bps=bps))
        assert np.array_equal(s2.astype(np.int64), s), bps
        # stereo full-range mirror ramps: mid is constant, so every frame
        # is mid/side, and the side channel spans bps + 1 bits
        left = np.arange(300) * (2 * lim - 1) // 299 - lim
        lr = np.stack([left, -left - 1])
        pay = fl.encode_flac(lr, 8000, bps=bps)
        assert pay[42 + 3] >> 4 == 0b1010, bps
        r2, lr2 = fl.decode_flac(pay)
        assert np.array_equal(lr2.astype(np.int64), lr), bps
    # contradiction probe: 24-bit STREAMINFO over 16-bit frames
    pay = bytearray(fl.encode_flac(np.arange(-100, 100), 8000, bps=16))
    # STREAMINFO bps-1 field: byte offset 8+4+13 = bits 132..136 of the
    # 34-byte block starting at offset 8; flip via re-encode instead:
    good24 = fl.encode_flac(np.arange(-100, 100), 8000, bps=24)
    hdr = bytearray(good24[: 8 + 34])
    body16 = fl.encode_flac(np.arange(-100, 100), 8000, bps=16)[8 + 34 :]
    import pytest

    with pytest.raises(ValueError):
        fl.decode_flac(bytes(hdr) + body16)
