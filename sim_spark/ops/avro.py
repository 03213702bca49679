"""Avro Object Container File (OCF) walk — round 14.

Avro OCF is the other interchange format a dataset pipeline meets
constantly (Kafka topic dumps, warehouse exports). The container
layer (public Avro 1.11 spec, "Object Container Files"):

* magic ``Obj\\x01``;
* a file-metadata map (avro map encoding: blocks of
  ``count, key, value`` with a zero-count terminator; negative block
  counts carry a byte size — accepted on read, never emitted) holding
  at least ``avro.schema`` (JSON) and optionally ``avro.codec``
  (``null`` or ``deflate`` — raw zlib per the spec; snappy is
  refused with a typed error, no library in this container);
* a random 16-byte sync marker;
* data blocks: ``[record_count varlong][byte_size varlong]
  [serialized records, possibly deflated][sync]`` — the sync marker
  VERIFIED per block, byte_size cross-checked against the actual
  payload.

Datum layer: the primitive encodings every Avro reader needs —
zigzag varlong (long/int), length-prefixed UTF-8 (string/bytes),
IEEE little-endian float/double, 1-byte boolean — driven by a
SCHEMA-AST interpreter over the JSON schema for records of
primitives (the flat-record shape of real topic dumps). Unknown or
nested schema shapes raise typed errors rather than misparse.

The decompression-bomb budget applies to deflated blocks (same
stance as ops/gzf.py): a block inflating past the configured cap
raises instead of OOMing.

Typed ValueError on every malformed shape: bad magic, missing
avro.schema, unsupported codec, metadata map truncation, sync
mismatch, byte_size disagreement, varint overflow, corrupt deflate
data, block inflate over budget, trailing garbage, a schema missing
a key or holding one of the wrong type.
"""

from __future__ import annotations

import json
import struct
import zlib

__all__ = ["encode_avro_ocf", "parse_avro_ocf"]

_MAGIC = b"Obj\x01"
_INFLATE_BUDGET = 64 << 20  # per-block bomb bound


def _varlong(v: int) -> bytes:
    """Avro zigzag varlong."""
    z = (v << 1) ^ (v >> 63)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_varlong(data: bytes, pos: int) -> tuple[int, int]:
    z = 0
    shift = 0
    for _ in range(10):
        if pos >= len(data):
            raise ValueError("truncated avro varlong")
        b = data[pos]
        pos += 1
        z |= (b & 0x7F) << shift
        if not b & 0x80:
            return (z >> 1) ^ -(z & 1), pos
        shift += 7
    raise ValueError("avro varlong longer than 10 bytes")


def _bytes_enc(b: bytes) -> bytes:
    return _varlong(len(b)) + b


def _read_bytes(data: bytes, pos: int, what: str) -> tuple[bytes, int]:
    n, pos = _read_varlong(data, pos)
    if n < 0 or pos + n > len(data):
        raise ValueError(f"truncated avro {what} (declared {n})")
    return data[pos:pos + n], pos + n


# --- datum codec over a flat-record schema AST -------------------------------

_PRIMS = {"long", "int", "string", "bytes", "double", "float", "boolean"}


def _check_schema(schema: object) -> list[tuple[str, str]]:
    """The header's JSON is not checksummed: every key a record schema
    needs is checked for presence and type, so a damaged schema raises
    ValueError, never KeyError/AttributeError."""
    kind = schema.get("type") if isinstance(schema, dict) else type(schema)
    if kind != "record":
        raise ValueError(
            f"unsupported top-level schema type {kind!r} (flat records only)"
        )
    if not isinstance(schema.get("fields"), list):
        raise ValueError("record schema has no fields list")
    fields = []
    for f in schema["fields"]:
        name = f.get("name") if isinstance(f, dict) else None
        if not isinstance(name, str):
            raise ValueError(f"record field without a name: {f!r}")
        t = f.get("type")
        if not isinstance(t, str) or t not in _PRIMS:
            raise ValueError(
                f"field {name!r}: unsupported type {t!r} (primitives only)"
            )
        fields.append((name, t))
    return fields


def _encode_datum(fields, rec: dict) -> bytes:
    out = bytearray()
    for name, t in fields:
        v = rec[name]
        if t in ("long", "int"):
            out += _varlong(v)
        elif t == "string":
            out += _bytes_enc(v.encode("utf-8"))
        elif t == "bytes":
            out += _bytes_enc(v)
        elif t == "double":
            out += struct.pack("<d", v)
        elif t == "float":
            out += struct.pack("<f", v)
        else:  # boolean
            out += bytes([1 if v else 0])
    return bytes(out)


def _decode_datum(fields, data: bytes, pos: int) -> tuple[dict, int]:
    rec = {}
    for name, t in fields:
        if t in ("long", "int"):
            rec[name], pos = _read_varlong(data, pos)
        elif t == "string":
            b, pos = _read_bytes(data, pos, f"string {name!r}")
            rec[name] = b.decode("utf-8")
        elif t == "bytes":
            rec[name], pos = _read_bytes(data, pos, f"bytes {name!r}")
        elif t == "double":
            if pos + 8 > len(data):
                raise ValueError(f"truncated double {name!r}")
            rec[name] = struct.unpack_from("<d", data, pos)[0]
            pos += 8
        elif t == "float":
            if pos + 4 > len(data):
                raise ValueError(f"truncated float {name!r}")
            rec[name] = struct.unpack_from("<f", data, pos)[0]
            pos += 4
        else:
            if pos >= len(data):
                raise ValueError(f"truncated boolean {name!r}")
            if data[pos] > 1:
                raise ValueError(f"boolean {name!r} byte {data[pos]}")
            rec[name] = bool(data[pos])
            pos += 1
    return rec, pos


# --- container ---------------------------------------------------------------


def encode_avro_ocf(
    schema: dict,
    records: list[dict],
    sync: bytes,
    codec: str = "null",
    records_per_block: int = 0,
) -> bytes:
    """Build an OCF. ``sync`` must be 16 bytes (callers synthesize it
    deterministically); ``records_per_block`` 0 = one block."""
    if len(sync) != 16:
        raise ValueError("sync marker must be 16 bytes")
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported avro codec {codec!r}")
    fields = _check_schema(schema)
    out = bytearray(_MAGIC)
    meta = [
        ("avro.schema", json.dumps(schema, separators=(",", ":")).encode()),
        ("avro.codec", codec.encode()),
    ]
    out += _varlong(len(meta))
    for k, v in meta:
        out += _bytes_enc(k.encode()) + _bytes_enc(v)
    out += _varlong(0)  # map terminator
    out += sync
    rpb = records_per_block or max(len(records), 1)
    for i in range(0, max(len(records), 1), rpb):
        chunk = records[i:i + rpb]
        if not chunk:
            break
        body = b"".join(_encode_datum(fields, r) for r in chunk)
        if codec == "deflate":
            body = zlib.compress(body)[2:-4]  # raw deflate per spec
        out += _varlong(len(chunk)) + _varlong(len(body)) + body + sync
    return bytes(out)


def parse_avro_ocf(data: bytes) -> dict:
    """OCF -> {"schema", "fields", "codec", "sync", "n_blocks",
    "records"}; ``fields`` is the checked [(name, type)] list."""
    if data[:4] != _MAGIC:
        raise ValueError(f"bad avro magic {data[:4]!r}")
    pos = 4
    meta: dict[str, bytes] = {}
    while True:
        n, pos = _read_varlong(data, pos)
        if n == 0:
            break
        if n < 0:  # size-carrying negative block count
            n = -n
            _, pos = _read_varlong(data, pos)  # byte size: skip
        for _ in range(n):
            k, pos = _read_bytes(data, pos, "metadata key")
            v, pos = _read_bytes(data, pos, "metadata value")
            meta[k.decode("utf-8")] = v
    if "avro.schema" not in meta:
        raise ValueError("OCF metadata missing avro.schema")
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported avro codec {codec!r}")
    fields = _check_schema(schema)
    if pos + 16 > len(data):
        raise ValueError("truncated OCF sync marker")
    sync = data[pos:pos + 16]
    pos += 16
    records = []
    n_blocks = 0
    while pos < len(data):
        count, pos = _read_varlong(data, pos)
        size, pos = _read_varlong(data, pos)
        if count < 0 or size < 0:
            raise ValueError("negative block count/size")
        if pos + size + 16 > len(data):
            raise ValueError(
                f"truncated OCF block at {pos} (size {size})"
            )
        body = data[pos:pos + size]
        pos += size
        if data[pos:pos + 16] != sync:
            raise ValueError(f"sync marker mismatch after block at {pos}")
        pos += 16
        if codec == "deflate":
            d = zlib.decompressobj(-15)
            try:
                body = d.decompress(body, _INFLATE_BUDGET)
                if d.unconsumed_tail:
                    raise ValueError(
                        f"OCF block inflates past the "
                        f"{_INFLATE_BUDGET >> 20} MiB budget"
                    )
                body += d.flush()
            except zlib.error as e:
                raise ValueError(f"corrupt deflate OCF block: {e}") from e
        bpos = 0
        for _ in range(count):
            rec, bpos = _decode_datum(fields, body, bpos)
            records.append(rec)
        if bpos != len(body):
            raise ValueError(
                f"OCF block decoded {bpos} of {len(body)} bytes "
                f"({count} records declared)"
            )
        n_blocks += 1
    return dict(
        schema=schema, fields=fields, codec=codec, sync=sync,
        n_blocks=n_blocks, records=records,
    )
