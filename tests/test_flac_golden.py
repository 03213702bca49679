"""Golden bytes of the FLAC encoder (sim_spark/ops/flac.py).

The multimodal FLAC keys hash-match DuckDB on decoded samples, which a
re-encoded but still valid stream would pass too. These digests pin the
encoder's exact output — subframe, predictor order, rice partition and
parameter choices, channel assignment — so an encoder change that moves
a single bit shows here. The vectorized rice planner and bit packer are
also checked against plain scalar versions of the same decisions.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from sim_spark.ops import flac

# sha256 over the concatenated payloads of doc_ids 0..199
GOLDEN = {
    "gen_flac_payload": "ab0203afb175232d9a5aff6dfcf1677afcfe825d417acdd09bce3351df635907",
    "gen_flac_stereo_payload": "43fca50c7cda1dd165026779ffafd933e26ff59f950d5c259d8afcdf25729126",
    "gen_flac_lpc_payload": "1eec41e97df69e64d749ac995b59bc672ead177cf8ec3b49e518e46b6cb0b8f9",
    "gen_flac_wasted_payload": "7608fb436d73f471f4f93bf02b50e64c3f72cb38761dc94589dd70b4f745bd45",
    "gen_flac_depth_payload": "f2d2b16c93d6df81032d0a2423369293badca3a72659cd83076a5446c22ca4e3",
}


@pytest.mark.parametrize("gen", sorted(GOLDEN))
def test_generator_bytes_are_pinned(gen):
    h = hashlib.sha256()
    for doc_id in range(200):
        h.update(getattr(flac, gen)(doc_id))
    assert h.hexdigest() == GOLDEN[gen]


def _reference_plan(zz: np.ndarray, bs: int, order: int):
    """The encoder's rice decision as a plain scan: every partition
    order po (2^po partitions dividing bs, po <= 6, the first partition
    keeping a residual), per partition the cheapest 4-bit parameter
    (lowest k on ties), the cheapest po (lowest on ties)."""
    best = None
    for po in range(7):
        nparts = 1 << po
        if bs % nparts or (bs >> po) <= order:
            break
        lo, ks, bits = 0, [], 2 + 4 + 4 * nparts
        for p in range(nparts):
            part = zz[lo : lo + (bs >> po) - (order if p == 0 else 0)]
            lo += part.size
            costs = [int((part >> k).sum()) + part.size * (k + 1) for k in range(15)]
            ks.append(costs.index(min(costs)))
            bits += min(costs)
        if best is None or bits < best[2]:
            best = (po, ks, bits)
    return best


@pytest.mark.parametrize("bs", [1, 2, 3, 4, 8, 12, 100, 128, 200, 255, 256])
def test_rice_plans_match_the_plain_scan(bs):
    rng = np.random.default_rng(bs)
    for scale in (1, 4, 100, 5000, 1 << 20, 1 << 26):
        for order in range(3):
            zp = rng.integers(0, scale, (4, bs))
            zp[:, :order] = 0
            po, ks, bits = flac._rice_plans(zp, np.full(4, order))
            for r in range(4):
                want = _reference_plan(zp[r, order:], bs, order)
                if want is None:
                    assert bits[r] == flac._NO_PLAN
                    continue
                off = (1 << po[r]) - 1
                got = (int(po[r]), ks[r, off : 2 * off + 1].tolist(), int(bits[r]))
                assert got == want, (bs, scale, order, r)


def test_pack_bits_matches_bit_writer():
    rng = np.random.default_rng(7)
    for n in (1, 2, 9, 300):
        nbits = rng.integers(0, 40, n)
        nbits[rng.random(n) < 0.1] = rng.integers(40, 3000)  # long unary runs
        values = rng.integers(0, 1 << 32, n) & ((1 << np.minimum(nbits, 32)) - 1)
        w = flac._BitWriter()
        for v, b in zip(values.tolist(), nbits.tolist()):
            w.put(v, b)
        w.pad_to_byte()
        assert flac._pack_bits(values, nbits).tobytes() == bytes(w.out)
