"""Golden bytes of the JPEG encoders (sim_spark/ops/jpeg.py, jpeg_arith.py).

The multimodal JPEG keys hash-match DuckDB on decoded coefficients,
which a re-encoded but still valid stream would pass too. These digests
pin the encoders' exact output — container segment order and lengths,
table layout, scan headers, restart markers, entropy bits — so a change
to the container writer or the scan-order walk that moves a single byte
shows here.
"""

from __future__ import annotations

import hashlib

import pytest

from sim_spark.ops import jpeg
from sim_spark.queries import multimodal_real

GENERATORS = {
    # baseline grayscale; doc_id % 3 == 0 carries DRI + RSTn markers
    "gen_jpeg_payload": jpeg.gen_jpeg_payload,
    "gen_jpeg_dc_payload": jpeg.gen_jpeg_dc_payload,
    "gen_jpeg_color_payload": jpeg.gen_jpeg_color_payload,
    "_gen_jpeg_progressive_payload": multimodal_real._gen_jpeg_progressive_payload,
    "_gen_jpeg_prog_color_payload": multimodal_real._gen_jpeg_prog_color_payload,
    "_gen_jpeg_arith_payload": multimodal_real._gen_jpeg_arith_payload,
}

# sha256 over the concatenated payloads of doc_ids 0..199
GOLDEN = {
    "gen_jpeg_payload": "f6bca79aa91fc5fd5619140f7343977aa67004657c2ab143e1077b0b05b0daa7",
    "gen_jpeg_dc_payload": "ab17236b613b06d49659d876a425e0918cbbf944dbb33ae07facb87122fa63d6",
    "gen_jpeg_color_payload": "edda475001ec4a6b5788fbb981b6b4db3a898e5ba3fe9a81c0c3b8d4b807c079",
    "_gen_jpeg_progressive_payload": "33b37a606c3335f03cda75373f53035dd52be92e37775fff8e08948f2ef0c1e8",
    "_gen_jpeg_prog_color_payload": "fe7590cbb37dee48b1065be6a1a6ac2254e5317c07e0e1ce6a7f981d6c28a103",
    "_gen_jpeg_arith_payload": "12df65df5bfc5b0b88ae5602cd82e74f02260075ac4e34749c44851bd66d608c",
}


@pytest.mark.parametrize("gen", sorted(GOLDEN))
def test_generator_bytes_are_pinned(gen):
    h = hashlib.sha256()
    for doc_id in range(200):
        h.update(GENERATORS[gen](doc_id))
    assert h.hexdigest() == GOLDEN[gen]


def test_restart_markers_are_covered():
    """The baseline generator's restart branch is part of the pin."""
    p = jpeg.gen_jpeg_payload(3)
    assert b"\xff\xdd" in p and b"\xff\xd0" in p
