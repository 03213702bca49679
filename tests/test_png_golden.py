"""Golden bytes of the PNG payload generators (sim_spark/ops/multimodal.py).

The PNG decode keys hash-match DuckDB on decoded samples, which a
re-encoded but still valid stream would pass too. These digests pin the
encoder's exact output — chunk order and lengths, IHDR fields, PLTE and
tRNS bodies, the per-row filter cycle, Adam7 pass order, sub-byte and
16-bit packing, the zlib level and the two-IDAT split — so a change to
the encoder that moves a single byte shows here.
"""

from __future__ import annotations

import hashlib

import pytest

from sim_spark.ops import multimodal
from sim_spark.queries import multimodal_real

GENERATORS = {
    # RGB8 sequential, own formula
    "gen_png_payload": multimodal.gen_png_payload,
    # RGB8 sequential, the BMP twin's pixels
    "gen_png_twin_payload": multimodal.gen_png_twin_payload,
    # RGBA / grayscale 8-bit sequential
    "_gen_png_any_payload": multimodal_real._gen_png_any_payload,
    # palette (+tRNS) and RGB/RGBA, sequential and Adam7
    "_gen_png_pal7_payload": multimodal_real._gen_png_pal7_payload,
    # 16-bit gray/RGB, 4/1-bit gray, 2-bit palette
    "_gen_png_depth_payload": multimodal_real._gen_png_depth_payload,
}

# sha256 over the concatenated payloads of doc_ids 0..199
GOLDEN = {
    "gen_png_payload": "7b82a36e2aab2ba5df2a1fdf75591f40849bc023feae66a75e78a99234bd29c2",
    "gen_png_twin_payload": "b1c6afe172d5e744148049eee2d35699484ecd7e02b8cb94f26c28358dc82e02",
    "_gen_png_any_payload": "9ce3f058f7c1d0533b9780e563e71b02b14fb67249ff46931823ee0bfd8a8f48",
    "_gen_png_pal7_payload": "bc8a56920c19b08b8cc38b16ce2043def3c6da981b8982db42a8d5bd29d2e6a9",
    "_gen_png_depth_payload": "c16bdd7e30c7a7a5609b462677aaaa01da0bc44fe62092176bd6ae6bb7cea4af",
}


@pytest.mark.parametrize("gen", sorted(GOLDEN))
def test_generator_bytes_are_pinned(gen):
    h = hashlib.sha256()
    for doc_id in range(200):
        h.update(GENERATORS[gen](doc_id))
    assert h.hexdigest() == GOLDEN[gen]
