"""Unit tests for the baseline JPEG codec (ops/jpeg.py, round 11).

The query-level hash oracles (test_oracle_parity: multimodal_jpeg_decode
/ multimodal_jpeg_pixels) pin the end-to-end pipeline; these tests pin
the codec internals a coarse aggregate could conceivably cancel out of:
bit-exact coefficient round-trips on adversarial blocks, byte stuffing,
restart-marker DC resets, IDCT-vs-naive-reference, clamp edges, and the
decoder's rejection of non-baseline streams.
"""

from __future__ import annotations

import numpy as np
import pytest

from sim_spark.ops.jpeg import (
    QTABLE_ZZ,
    decode_jpeg,
    encode_jpeg_from_coeffs,
    formula_jpeg_coeffs,
    formula_jpeg_dc_only,
    gen_jpeg_dc_payload,
    gen_jpeg_payload,
    idct2_blocks,
)


def test_formula_roundtrip_coefficients_exact():
    for d in (0, 1, 2, 3, 7, 12, 59, 123, 499, 4999):
        wb, hb, coeffs, _ = formula_jpeg_coeffs(d)
        w, h, px, rec = decode_jpeg(gen_jpeg_payload(d))
        assert (w, h) == (wb * 8, hb * 8)
        assert np.array_equal(rec, coeffs), f"doc {d}"


def test_random_blocks_roundtrip_exact():
    """Adversarial coefficient patterns: dense blocks, long zero runs
    (ZRL path), max-position AC (z=63, no EOB), large DC swings."""
    rng = np.random.default_rng(7)
    for trial in range(30):
        wb, hb = int(rng.integers(1, 5)), int(rng.integers(1, 4))
        n = wb * hb
        coeffs = np.zeros((n, 64), dtype=np.int64)
        coeffs[:, 0] = rng.integers(-1000, 1000, n)
        for b in range(n):
            kind = trial % 4
            if kind == 0:  # dense
                coeffs[b, 1:] = rng.integers(-30, 30, 63)
            elif kind == 1:  # single coefficient at the very end (no EOB)
                coeffs[b, 63] = int(rng.integers(1, 100))
            elif kind == 2:  # >16 zero run (forces ZRL)
                coeffs[b, 20] = -5
                coeffs[b, 60] = 9
            # kind == 3: all-zero AC (EOB immediately)
        payload = encode_jpeg_from_coeffs(wb, hb, coeffs)
        w, h, px, rec = decode_jpeg(payload)
        assert np.array_equal(rec, coeffs)


def test_byte_stuffing_roundtrip():
    """Force an 0xFF byte into the entropy stream (DC ±512 produces one
    at this table's bit alignment, verified by construction): the
    encoder must stuff 0x00 and the decoder must unstuff."""
    coeffs = np.zeros((4, 64), dtype=np.int64)
    coeffs[:, 0] = [512, -512, 512, -512]
    payload = encode_jpeg_from_coeffs(1, 4, coeffs)
    assert b"\xff\x00" in payload.split(b"\xff\xda")[1], "no stuffed byte hit"
    _, _, _, rec = decode_jpeg(payload)
    assert np.array_equal(rec, coeffs)


def test_restart_markers_reset_dc_predictor():
    wb, hb, ri = 4, 3, 4  # 12 MCUs, RST after 4 and 8
    coeffs = np.zeros((12, 64), dtype=np.int64)
    coeffs[:, 0] = np.arange(100, 112)
    payload = encode_jpeg_from_coeffs(wb, hb, coeffs, restart_interval=ri)
    scan = payload.split(b"\xff\xda")[1]
    assert b"\xff\xd0" in scan and b"\xff\xd1" in scan
    _, _, _, rec = decode_jpeg(payload)
    assert np.array_equal(rec, coeffs)


def test_dc_only_pixels_exact_with_clamp():
    for d in (0, 5, 33, 160, 321):
        wb, hb, coeffs = formula_jpeg_dc_only(d)
        w, h, px, _ = decode_jpeg(gen_jpeg_dc_payload(d))
        img = px.reshape(h, w)
        for b in range(wb * hb):
            r0, c0 = (b // wb) * 8, (b % wb) * 8
            expect = min(255, max(0, int(coeffs[b, 0]) + 128))
            assert set(img[r0 : r0 + 8, c0 : c0 + 8].reshape(-1).tolist()) == {
                expect
            }
    # both clamp edges actually occur across the id range
    lo = hi = False
    for d in range(400):
        _, _, c = formula_jpeg_dc_only(d)
        lo |= bool((c[:, 0] + 128 < 0).any())
        hi |= bool((c[:, 0] + 128 > 255).any())
    assert lo and hi


def test_idct_matches_naive_reference():
    rng = np.random.default_rng(0)
    blocks = rng.integers(-500, 500, (8, 8, 8)).astype(np.float64)

    def naive(F):
        out = np.zeros((8, 8))
        for x in range(8):
            for y in range(8):
                s = 0.0
                for u in range(8):
                    for v in range(8):
                        cu = 1 / np.sqrt(2) if u == 0 else 1.0
                        cv = 1 / np.sqrt(2) if v == 0 else 1.0
                        s += (
                            cu * cv * F[u, v]
                            * np.cos((2 * x + 1) * u * np.pi / 16)
                            * np.cos((2 * y + 1) * v * np.pi / 16)
                        )
                out[x, y] = s / 4
        return out

    fast = idct2_blocks(blocks)
    for i in range(len(blocks)):
        assert np.allclose(fast[i], naive(blocks[i]), atol=1e-9)


def test_qtable_dc_entry_is_load_bearing():
    """q[0] == 8 is what makes the DC-only pixel oracle exact."""
    assert QTABLE_ZZ[0] == 8 and len(QTABLE_ZZ) == 64
    assert all(1 <= q <= 255 for q in QTABLE_ZZ)


def test_decoder_rejects_non_baseline():
    payload = bytearray(gen_jpeg_payload(3))
    i = payload.find(b"\xff\xc0")
    payload[i + 1] = 0xC2  # progressive SOF2
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(payload))
    with pytest.raises(ValueError):
        decode_jpeg(b"\x00\x01not a jpeg")


def test_decoder_skips_unknown_app_segments():
    payload = bytearray(gen_jpeg_payload(3))
    com = b"\xff\xfe" + (14).to_bytes(2, "big") + b"a comment..."
    exif = b"\xff\xe1" + (8).to_bytes(2, "big") + b"Exif\x00\x00"
    patched = bytes(payload[:2]) + com + exif + bytes(payload[2:])
    _, _, _, rec = decode_jpeg(patched)
    _, _, coeffs, _ = formula_jpeg_coeffs(3)
    assert np.array_equal(rec, coeffs)


def test_spec_valid_container_structure():
    """Marker-level sanity a third-party decoder would rely on."""
    p = gen_jpeg_payload(11)
    assert p[:2] == b"\xff\xd8" and p[-2:] == b"\xff\xd9"
    assert b"JFIF\x00" in p and b"\xff\xdb" in p and b"\xff\xc4" in p
    # SOF0 dims match the formula
    i = p.find(b"\xff\xc0")
    h = int.from_bytes(p[i + 5 : i + 7], "big")
    w = int.from_bytes(p[i + 7 : i + 9], "big")
    assert (w, h) == ((2 + 11 % 4) * 8, (1 + 11 % 3) * 8)


# --- color 4:2:0 path (r11) -------------------------------------------------


def test_color_formula_roundtrip_exact():
    from sim_spark.ops.jpeg import (
        decode_jpeg_color,
        formula_jpeg_color_coeffs,
        gen_jpeg_color_payload,
    )

    for d in (0, 1, 2, 3, 4, 5, 11, 12, 59, 123, 4999):
        mx, my, y, cb, cr, rst = formula_jpeg_color_coeffs(d)
        w, h, rgb, coeffs = decode_jpeg_color(gen_jpeg_color_payload(d))
        assert (w, h) == (mx * 16, my * 16)
        assert np.array_equal(coeffs[0], y)
        assert np.array_equal(coeffs[1], cb)
        assert np.array_equal(coeffs[2], cr)
        assert rgb.size == w * h * 3


def test_color_dc_only_gray_pixels_exact():
    """All-zero chroma + DC-only luma: BT.601 conversion terms vanish,
    so every RGB channel equals clamp(y_dc + 128) exactly — pinning
    plane stitching, 2x2 upsample wiring, and the conversion zero
    point without a lossy-pixel oracle."""
    from sim_spark.ops.jpeg import decode_jpeg_color, encode_jpeg_color_from_coeffs

    yc = np.zeros((4, 64), dtype=np.int64)
    yc[:, 0] = [-50, 10, 100, -200]
    cc = np.zeros((1, 64), dtype=np.int64)
    w, h, rgb, _ = decode_jpeg_color(encode_jpeg_color_from_coeffs(1, 1, yc, cc, cc))
    img = rgb.reshape(16, 16, 3)
    for b, (r0, c0) in enumerate([(0, 0), (0, 8), (8, 0), (8, 8)]):
        exp = min(255, max(0, int(yc[b, 0]) + 128))
        assert set(img[r0 : r0 + 8, c0 : c0 + 8].reshape(-1).tolist()) == {exp}


def test_color_chroma_moves_channels_oppositely():
    """Positive Cr DC pushes R above G/B; positive Cb DC pushes B up —
    sign sanity of the conversion matrix on a flat image."""
    from sim_spark.ops.jpeg import decode_jpeg_color, encode_jpeg_color_from_coeffs

    yc = np.zeros((4, 64), dtype=np.int64)
    cb = np.zeros((1, 64), dtype=np.int64)
    cr = np.zeros((1, 64), dtype=np.int64)
    cr[0, 0] = 10  # dequant 80 with q_dc 8
    _, _, rgb, _ = decode_jpeg_color(encode_jpeg_color_from_coeffs(1, 1, yc, cb, cr))
    img = rgb.reshape(-1, 3).astype(int)
    assert (img[:, 0] > img[:, 1]).all() and (img[:, 0] > img[:, 2]).all()
    cr[0, 0] = 0
    cb[0, 0] = 10
    _, _, rgb, _ = decode_jpeg_color(encode_jpeg_color_from_coeffs(1, 1, yc, cb, cr))
    img = rgb.reshape(-1, 3).astype(int)
    assert (img[:, 2] > img[:, 0]).all() and (img[:, 2] > img[:, 1]).all()


def test_color_restart_resets_all_three_predictors():
    from sim_spark.ops.jpeg import decode_jpeg_color, encode_jpeg_color_from_coeffs

    mx, my = 3, 2  # 6 MCUs, RST after 2 and 4
    yc = np.zeros((24, 64), dtype=np.int64)
    yc[:, 0] = np.arange(50, 74)
    cb = np.zeros((6, 64), dtype=np.int64)
    cb[:, 0] = np.arange(-20, -14)
    cr = np.zeros((6, 64), dtype=np.int64)
    cr[:, 0] = np.arange(5, 11)
    p = encode_jpeg_color_from_coeffs(mx, my, yc, cb, cr, restart_interval=2)
    assert b"\xff\xd0" in p.split(b"\xff\xda")[1]
    _, _, _, coeffs = decode_jpeg_color(p)
    assert np.array_equal(coeffs[0], yc)
    assert np.array_equal(coeffs[1], cb)
    assert np.array_equal(coeffs[2], cr)


def test_grayscale_entry_rejects_color_and_vice_versa():
    from sim_spark.ops.jpeg import (
        decode_jpeg,
        decode_jpeg_color,
        gen_jpeg_color_payload,
    )

    with pytest.raises(NotImplementedError):
        decode_jpeg(gen_jpeg_color_payload(3))
    with pytest.raises(ValueError):
        decode_jpeg_color(gen_jpeg_payload(3))


def test_garbage_and_truncation_raise_typed_errors():
    """Untrusted bytes: only ValueError / NotImplementedError may
    escape (the marker-walk assert used to leak AssertionError, which
    python -O would strip entirely)."""
    from sim_spark.ops.jpeg import decode_jpeg, decode_jpeg_color

    rng = np.random.default_rng(0)
    for _ in range(100):
        p = b"\xff\xd8" + rng.integers(0, 256, 200, dtype=np.uint8).tobytes()
        with pytest.raises((ValueError, NotImplementedError)):
            decode_jpeg(p)
        with pytest.raises((ValueError, NotImplementedError)):
            decode_jpeg_color(p)
    v = gen_jpeg_payload(7)
    for k in range(2, len(v)):
        with pytest.raises((ValueError, NotImplementedError)):
            decode_jpeg(v[:k])


def test_color_422_sampling_decodes_exactly():
    """The decoder's MCU interleave is generic over sampling factors —
    pin 4:2:2 (Y 2x1), the other common real-world shape, by building
    a stream by hand and requiring exact coefficient recovery."""
    import struct

    import sim_spark.ops.jpeg as J

    def encode_422(mcus_x, mcus_y, y_coeffs, cb_coeffs, cr_coeffs):
        ybw = mcus_x * 2
        width, height = mcus_x * 16, mcus_y * 8
        out = bytearray(b"\xff\xd8")
        out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + bytes(
            [1, 1, 0, 0, 1, 0, 1, 0, 0]
        )
        out += b"\xff\xdb" + struct.pack(">H", 2 + 2 * 65)
        out += bytes([0]) + bytes(J.QTABLE_ZZ) + bytes([1]) + bytes(J.QTABLE_CHR_ZZ)
        out += b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, height, width, 3)
        out += bytes([1, 0x21, 0, 2, 0x11, 1, 3, 0x11, 1])  # Y 2x1
        segs = [
            bytes([0x00]) + bytes(J.DC_LUM_BITS) + bytes(J.DC_LUM_VALS),
            bytes([0x10]) + bytes(J.AC_LUM_BITS) + bytes(J.AC_LUM_VALS),
            bytes([0x01]) + bytes(J.DC_CHR_BITS) + bytes(J.DC_CHR_VALS),
            bytes([0x11]) + bytes(J.AC_CHR_BITS) + bytes(J.AC_CHR_VALS),
        ]
        out += b"\xff\xc4" + struct.pack(">H", 2 + sum(len(x) for x in segs))
        for x in segs:
            out += x
        out += b"\xff\xda" + struct.pack(">HB", 12, 3)
        out += bytes([1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
        w = J._BitWriter()
        dc = {"y": 0, "cb": 0, "cr": 0}
        for m in range(mcus_y * mcus_x):
            my, mx = divmod(m, mcus_x)
            for bx in range(2):
                b = my * ybw + mx * 2 + bx
                dc["y"] = J._encode_block(
                    w, y_coeffs[b], J._DC_CODES, J._AC_CODES, dc["y"]
                )
            dc["cb"] = J._encode_block(
                w, cb_coeffs[m], J._DC_CHR_CODES, J._AC_CHR_CODES, dc["cb"]
            )
            dc["cr"] = J._encode_block(
                w, cr_coeffs[m], J._DC_CHR_CODES, J._AC_CHR_CODES, dc["cr"]
            )
        w.flush()
        out += w.out + b"\xff\xd9"
        return bytes(out)

    rng = np.random.default_rng(2)
    yc = np.zeros((8, 64), dtype=np.int64)
    yc[:, 0] = rng.integers(-60, 60, 8)
    yc[:, 5] = rng.integers(-9, 9, 8)
    cb = np.zeros((4, 64), dtype=np.int64)
    cb[:, 0] = rng.integers(-20, 20, 4)
    cr = np.zeros((4, 64), dtype=np.int64)
    cr[:, 0] = rng.integers(-20, 20, 4)
    w, h, rgb, coeffs = J.decode_jpeg_color(encode_422(2, 2, yc, cb, cr))
    assert (w, h) == (32, 16) and rgb.size == 32 * 16 * 3
    assert np.array_equal(coeffs[0], yc)
    assert np.array_equal(coeffs[1], cb)
    assert np.array_equal(coeffs[2], cr)


# --- progressive (SOF2) — r12 ------------------------------------------------


def test_progressive_roundtrip_exact_and_matches_baseline_pixels():
    """The six-scan progressive encoding recovers the exact quantized
    coefficients for the shared fixture formula, and the decoded pixels
    equal the baseline decode of the same coefficients (the entropy
    layer is lossless whatever the scan structure)."""
    import numpy as np

    from sim_spark.ops.jpeg import (
        decode_jpeg,
        decode_jpeg_progressive,
        encode_jpeg_from_coeffs,
        encode_jpeg_progressive_from_coeffs,
        formula_jpeg_coeffs,
    )

    for d in (0, 1, 2, 3, 11, 38, 77, 199, 4999):
        wb, hb, coeffs, _rst = formula_jpeg_coeffs(d)
        w, h, px, rec = decode_jpeg_progressive(
            encode_jpeg_progressive_from_coeffs(wb, hb, coeffs)
        )
        assert (w, h) == (wb * 8, hb * 8)
        assert np.array_equal(rec, coeffs)
        _, _, pxb, _ = decode_jpeg(encode_jpeg_from_coeffs(wb, hb, coeffs))
        assert np.array_equal(px, pxb)


def test_progressive_dense_random_grids_roundtrip():
    """Adversarial coefficient grids (dense bands, long zero runs, EOB
    runs spanning many blocks, ZRL-over-history interleavings) —
    the correction-bit/EOB-run coder must be exactly invertible."""
    import numpy as np

    from sim_spark.ops.jpeg import (
        decode_jpeg_progressive,
        encode_jpeg_progressive_from_coeffs,
    )

    rng = np.random.default_rng(42)
    for trial in range(120):
        wb, hb = int(rng.integers(1, 6)), int(rng.integers(1, 5))
        n = wb * hb
        coeffs = np.zeros((n, 64), dtype=np.int64)
        coeffs[:, 0] = rng.integers(-200, 201, n)
        density = rng.uniform(0, 0.5) if trial % 3 else rng.uniform(0, 0.03)
        mask = rng.random((n, 63)) < density
        coeffs[:, 1:] = np.where(mask, rng.integers(-40, 41, (n, 63)), 0)
        _, _, _, rec = decode_jpeg_progressive(
            encode_jpeg_progressive_from_coeffs(wb, hb, coeffs)
        )
        assert np.array_equal(rec, coeffs), trial


def test_progressive_truncation_and_garbage_typed_errors():
    import numpy as np

    from sim_spark.ops.jpeg import (
        decode_jpeg_progressive,
        encode_jpeg_progressive_from_coeffs,
        formula_jpeg_coeffs,
    )

    wb, hb, coeffs, _ = formula_jpeg_coeffs(11)
    base = encode_jpeg_progressive_from_coeffs(wb, hb, coeffs)
    for k in range(4, len(base)):
        with pytest.raises((ValueError, NotImplementedError)):
            decode_jpeg_progressive(base[:k])
    rng = np.random.default_rng(3)
    for _ in range(60):
        p = b"\xff\xd8" + rng.integers(0, 256, 150, dtype=np.uint8).tobytes() + b"\xff\xd9"
        with pytest.raises((ValueError, NotImplementedError)):
            decode_jpeg_progressive(p)


def test_progressive_and_baseline_entry_points_cross_reject():
    """decode_jpeg must fence SOF2 streams (typed), and
    decode_jpeg_progressive must fence baseline streams — no silent
    misparse in either direction."""
    from sim_spark.ops.jpeg import (
        decode_jpeg,
        decode_jpeg_progressive,
        encode_jpeg_from_coeffs,
        encode_jpeg_progressive_from_coeffs,
        formula_jpeg_coeffs,
    )

    wb, hb, coeffs, _ = formula_jpeg_coeffs(5)
    prog = encode_jpeg_progressive_from_coeffs(wb, hb, coeffs)
    base = encode_jpeg_from_coeffs(wb, hb, coeffs)
    with pytest.raises(NotImplementedError):
        decode_jpeg(prog)
    with pytest.raises(ValueError):
        decode_jpeg_progressive(base)


# --- progressive color (r12) -------------------------------------------------


def test_progressive_color_matches_baseline_exactly():
    """The progressive color stream must recover the SAME per-plane
    coefficients and the SAME RGB pixels as the baseline encoding of
    identical coefficients — scan structure is presentation, not
    content."""
    from sim_spark.ops.jpeg import (
        decode_jpeg_color,
        decode_jpeg_progressive_color,
        encode_jpeg_color_from_coeffs,
        encode_jpeg_progressive_color_from_coeffs,
        formula_jpeg_color_coeffs,
    )

    for d in (0, 1, 2, 3, 5, 11, 59, 499):
        mx, my, y, cb, cr, rst = formula_jpeg_color_coeffs(d)
        base = encode_jpeg_color_from_coeffs(mx, my, y, cb, cr,
                                             restart_interval=rst)
        prog = encode_jpeg_progressive_color_from_coeffs(mx, my, y, cb, cr)
        wb, hb, rgb_b, cb_b = decode_jpeg_color(base)
        wp, hp, rgb_p, cb_p = decode_jpeg_progressive_color(prog)
        assert (wb, hb) == (wp, hp)
        for a, b in zip(cb_b, cb_p):
            assert np.array_equal(a, b), d
        assert np.array_equal(y, cb_p[0]) and np.array_equal(cb, cb_p[1])
        assert np.array_equal(cr, cb_p[2])
        assert np.array_equal(rgb_b, rgb_p), d


def test_progressive_color_random_grids_roundtrip():
    """Adversarial dense/sparse coefficient grids through the ten-scan
    structure: interleaved DC walk vs per-component raster AC walk must
    agree on block indexing."""
    from sim_spark.ops.jpeg import (
        decode_jpeg_progressive_color,
        encode_jpeg_progressive_color_from_coeffs,
    )

    rng = np.random.default_rng(9)
    for trial in range(12):
        mx, my = int(rng.integers(1, 4)), int(rng.integers(1, 4))
        ny, nc = my * 2 * mx * 2, my * mx

        def grid(n):
            g = np.zeros((n, 64), dtype=np.int64)
            mask = rng.random((n, 64)) < 0.25
            g[mask] = rng.integers(-500, 500, mask.sum())
            g[:, 0] = rng.integers(-1000, 1000, n)
            return g

        y, cbc, crc = grid(ny), grid(nc), grid(nc)
        prog = encode_jpeg_progressive_color_from_coeffs(mx, my, y, cbc, crc)
        _, _, _, (yp, cbp, crp) = decode_jpeg_progressive_color(prog)
        assert np.array_equal(y, yp) and np.array_equal(cbc, cbp)
        assert np.array_equal(crc, crp)


def test_progressive_color_truncations_are_typed():
    from sim_spark.ops.jpeg import (
        decode_jpeg_progressive_color,
        encode_jpeg_progressive_color_from_coeffs,
        formula_jpeg_color_coeffs,
    )

    mx, my, y, cb, cr, _ = formula_jpeg_color_coeffs(3)
    prog = encode_jpeg_progressive_color_from_coeffs(mx, my, y, cb, cr)
    for cut in range(2, len(prog) - 1, 53):
        with pytest.raises((ValueError, NotImplementedError)):
            decode_jpeg_progressive_color(prog[:cut])


def test_progressive_entry_points_reject_wrong_component_count():
    from sim_spark.ops.jpeg import (
        decode_jpeg_progressive,
        decode_jpeg_progressive_color,
        encode_jpeg_progressive_color_from_coeffs,
        encode_jpeg_progressive_from_coeffs,
        formula_jpeg_color_coeffs,
        formula_jpeg_coeffs,
    )

    mx, my, y, cb, cr, _ = formula_jpeg_color_coeffs(1)
    color = encode_jpeg_progressive_color_from_coeffs(mx, my, y, cb, cr)
    with pytest.raises(ValueError, match="grayscale entry point"):
        decode_jpeg_progressive(color)
    wb, hb, coeffs, _ = formula_jpeg_coeffs(1)
    gray = encode_jpeg_progressive_from_coeffs(wb, hb, coeffs)
    with pytest.raises(ValueError, match="3-component"):
        decode_jpeg_progressive_color(gray)


# --- arithmetic coding (ops/jpeg_arith.py, r14) ------------------------------


def test_qm_table_invariants():
    """Table D.3 structural pins: 113 adaptive states + the fixed
    equiprobable sign bin; all transitions in range; the documented
    switch-state set; every state reachable from the start state."""
    from sim_spark.ops.jpeg_arith import _QM_TAB

    assert len(_QM_TAB) == 114
    for i, (qe, nlps, nmps, sw) in enumerate(_QM_TAB):
        assert 0 < qe <= 0x5B12, (i, hex(qe))
        assert 0 <= nlps <= 113 and 0 <= nmps <= 113, i
    assert [i for i, r in enumerate(_QM_TAB) if r[3]] == [
        0, 14, 36, 64, 80, 88, 95, 105, 110, 112]
    seen, frontier = set(), {0}
    while frontier:
        s = frontier.pop()
        if s not in seen:
            seen.add(s)
            frontier.update((_QM_TAB[s][1], _QM_TAB[s][2]))
    assert len(seen - {113}) == 113
    # the fixed bin never adapts
    assert _QM_TAB[113][1] == _QM_TAB[113][2] == 113


def test_qm_coder_roundtrip_property():
    """Encoder and decoder implement the SEPARATE Annex D flowcharts
    with different register conventions — agreement across random
    adaptive streams is real evidence, not self-confirmation."""
    import random

    from sim_spark.ops.jpeg_arith import QMDecoder, QMEncoder

    rng = random.Random(1414)
    for trial in range(40):
        n_ctx = rng.choice([1, 2, 8, 32])
        n = rng.choice([1, 5, 100, 2000])
        p1 = rng.choice([0.5, 0.95, 0.999, 0.02])
        seq = [(rng.randrange(n_ctx), 1 if rng.random() < p1 else 0)
               for _ in range(n)]
        enc = QMEncoder()
        st_e = bytearray(n_ctx)
        for ctx, bit in seq:
            enc.encode(st_e, ctx, bit)
        data = enc.flush() + b"\xff\xd9"
        # every 0xFF in the entropy bytes is stuffed (marker safety)
        body = enc.out
        for i, b in enumerate(body[:-1]):
            if b == 0xFF:
                assert body[i + 1] == 0x00, i
        dec = QMDecoder(data, 0)
        st_d = bytearray(n_ctx)
        for j, (ctx, bit) in enumerate(seq):
            assert dec.decode(st_d, ctx) == bit, (trial, j)


def test_qm_coder_compresses_skew():
    from sim_spark.ops.jpeg_arith import QMEncoder

    enc = QMEncoder()
    st = bytearray(1)
    for i in range(10000):
        enc.encode(st, 0, 1 if i % 100 == 0 else 0)
    assert len(enc.flush()) < 300  # ~0.08 bits/decision: adaptation works


def test_jpeg_arith_coeff_roundtrip_and_pixel_parity():
    """Same coefficients through SOF9-arithmetic and baseline-Huffman
    files: coefficients recover bit-exactly from both, pixels are
    identical (the IDCT half is shared), and the arithmetic file is
    smaller (the expected direction for the QM coder)."""
    import numpy as np

    from sim_spark.ops.jpeg import (
        decode_jpeg,
        encode_jpeg_from_coeffs,
        formula_jpeg_coeffs,
    )
    from sim_spark.ops.jpeg_arith import (
        decode_jpeg_arith,
        encode_jpeg_arith_from_coeffs,
    )

    tot_a = tot_h = 0
    for doc in range(120):
        wb, hb, coeffs, _ = formula_jpeg_coeffs(doc)
        fa = encode_jpeg_arith_from_coeffs(wb, hb, coeffs)
        w, h, px, back = decode_jpeg_arith(fa)
        assert (w, h) == (wb * 8, hb * 8)
        assert np.array_equal(back, coeffs)
        w2, h2, px2, _ = decode_jpeg(encode_jpeg_from_coeffs(wb, hb, coeffs))
        assert np.array_equal(px, px2)
        tot_a += len(fa)
        tot_h += len(encode_jpeg_from_coeffs(wb, hb, coeffs))
    assert tot_a < tot_h


def test_jpeg_arith_extreme_coeffs():
    """Large DC swings (deep magnitude categories + conditioning
    switches) and dense AC blocks across the Kx band split."""
    import numpy as np

    from sim_spark.ops.jpeg_arith import (
        decode_jpeg_arith,
        encode_jpeg_arith_from_coeffs,
    )

    rng = np.random.default_rng(7)
    for trial in range(10):
        wb, hb = 3, 2
        coeffs = np.zeros((6, 64), dtype=np.int64)
        coeffs[:, 0] = rng.integers(-1000, 1001, 6)  # deep DC categories
        dense = rng.integers(-200, 201, (6, 63))
        mask = rng.random((6, 63)) < 0.7
        coeffs[:, 1:] = np.where(mask, dense, 0)
        back = decode_jpeg_arith(
            encode_jpeg_arith_from_coeffs(wb, hb, coeffs))[3]
        assert np.array_equal(back, coeffs), trial
    # all-zero image (every block EOBs immediately, DC context stays 0)
    z = np.zeros((4, 64), dtype=np.int64)
    assert np.array_equal(
        decode_jpeg_arith(encode_jpeg_arith_from_coeffs(2, 2, z))[3], z)


def test_jpeg_arith_typed_errors():
    import numpy as np
    import pytest

    from sim_spark.ops.jpeg_arith import (
        decode_jpeg_arith,
        encode_jpeg_arith_from_coeffs,
    )

    c = np.zeros((1, 64), dtype=np.int64)
    c[0, 0] = 5
    f = encode_jpeg_arith_from_coeffs(1, 1, c)
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg_arith(f[2:])
    with pytest.raises(ValueError, match="truncated segment"):
        decode_jpeg_arith(f[:10])  # cut inside the APP0 body
    with pytest.raises(ValueError, match="no SOS marker"):
        decode_jpeg_arith(f[:20])  # cut at a segment boundary
    # baseline SOF0 in place of SOF9 is a typed refusal
    from sim_spark.ops.jpeg import encode_jpeg_from_coeffs

    fh = encode_jpeg_from_coeffs(1, 1, c)
    with pytest.raises(ValueError, match="SOF9"):
        decode_jpeg_arith(fh)
    # bad coeff shape on the encoder side
    with pytest.raises(ValueError, match="shape"):
        encode_jpeg_arith_from_coeffs(2, 1, c)


# --- typed errors under corruption (JPEG, PNG, WAV, FLAC) --------------------


def _corruption_cases():
    from sim_spark.ops import flac, jpeg, jpeg_arith
    from sim_spark.ops import multimodal as mm
    from sim_spark.queries import multimodal_real as mr

    return {
        "baseline": (jpeg.decode_jpeg, jpeg.gen_jpeg_payload),
        "dc_only": (jpeg.decode_jpeg, jpeg.gen_jpeg_dc_payload),
        "color": (jpeg.decode_jpeg_color, jpeg.gen_jpeg_color_payload),
        "progressive": (
            jpeg.decode_jpeg_progressive, mr._gen_jpeg_progressive_payload),
        "progressive_color": (
            jpeg.decode_jpeg_progressive_color, mr._gen_jpeg_prog_color_payload),
        "arithmetic": (
            jpeg_arith.decode_jpeg_arith, mr._gen_jpeg_arith_payload),
        "png": (mm.decode_png, mm.gen_png_payload),
        "png_twin": (mm.decode_png, mm.gen_png_twin_payload),
        "png_rgba_gray": (mm.decode_png, mr._gen_png_any_payload),
        "png_palette_adam7": (mm.decode_png, mr._gen_png_pal7_payload),
        "png_depth": (mm.decode_png, mr._gen_png_depth_payload),
        "wav": (mm.decode_wav, lambda d: mm.gen_wav_payload(d, 100)),
        "wav_tone": (mm.decode_wav, mm.gen_wav_tone_payload),
        "flac": (flac.decode_flac, flac.gen_flac_payload),
        "flac_stereo": (flac.decode_flac, flac.gen_flac_stereo_payload),
        "flac_lpc": (flac.decode_flac, flac.gen_flac_lpc_payload),
        "flac_wasted": (flac.decode_flac, flac.gen_flac_wasted_payload),
        "flac_depth": (flac.decode_flac, flac.gen_flac_depth_payload),
        "bmp": (mm.decode_bmp, mm.gen_bmp_payload),
        "avro": (lambda p: mr._avro_rows(0, p), mr._gen_avro_payload),
        "parquet_footer": (
            lambda p: mr._parquet_footer_rows(0, p), mr._gen_parquet_payload),
        "mp3_id3": (lambda p: mr._mp3_id3_rows(0, p), mr.gen_mp3_id3_payload),
        "mp3_apic": (lambda p: mr._mp3_apic_rows(0, p), mr._gen_mp3_apic_payload),
    }


@pytest.mark.parametrize(
    "case",
    ["baseline", "dc_only", "color", "progressive", "progressive_color",
     "arithmetic", "png", "png_twin", "png_rgba_gray", "png_palette_adam7",
     "png_depth", "wav", "wav_tone", "flac", "flac_stereo", "flac_lpc",
     "flac_wasted", "flac_depth", "bmp", "avro",
     "parquet_footer", "mp3_id3", "mp3_apic"],
)
def test_corrupted_payloads_raise_only_typed_errors(case):
    """Untrusted bytes through every decoder: each generator payload
    truncated at every 2.5% of its length, plus 40 single-bit flips
    per doc (fixed seed). A flip may leave a decodable stream; what may
    never happen is an exception other than ValueError /
    NotImplementedError escaping (the contract _decode_docs relies on to
    keep one bad file from killing a partition)."""
    import random

    decode, gen = _corruption_cases()[case]
    rng = random.Random(20261019)
    leaked = []
    for doc_id in range(12):
        p = gen(doc_id)
        bad = [p[: len(p) * k // 40] for k in range(40)]
        for _ in range(40):
            bit = rng.randrange(8 * len(p))
            q = bytearray(p)
            q[bit >> 3] ^= 0x80 >> (bit & 7)
            bad.append(bytes(q))
        for q in bad:
            try:
                decode(q)
            except (ValueError, NotImplementedError):
                pass
            except Exception as e:  # noqa: BLE001 - the leak under test
                leaked.append(f"doc {doc_id}: {type(e).__name__}: {e}")
    assert not leaked, f"{len(leaked)} leaked: {leaked[:5]}"


def test_sof_dimensions_beyond_the_payload_are_refused():
    """A baseline SOF patched to 65535x65535 asks for a 32 GiB
    coefficient grid; a Huffman frame codes every block in at least one
    bit, so the reader refuses it with ValueError before allocating."""
    from sim_spark.ops import jpeg

    p = bytearray(jpeg.gen_jpeg_payload(1))
    sof = p.index(b"\xff\xc0")
    p[sof + 5 : sof + 9] = b"\xff\xff\xff\xff"  # height, width
    with pytest.raises(ValueError, match="more blocks"):
        jpeg.decode_jpeg(bytes(p))
