"""Parquet footer walk — Thrift compact protocol, from scratch (r14).

Parquet is the format this engine lives on, yet every byte of its
FOOTER had always been delegated to engines. This module parses the
``PAR1`` footer directly: the Thrift COMPACT protocol (public
Apache Thrift spec — varint/zigzag ints, short-form field headers
with delta field ids, list headers, nested structs) driven over the
public parquet-format ``FileMetaData`` schema:

* ``FileMetaData``: version (1), schema element list (2), num_rows
  (3), row_groups (4), key_value_metadata (5), created_by (6);
* ``RowGroup``: column chunks (1), total_byte_size (2), num_rows (3);
* ``ColumnChunk``: file_offset (2), meta_data (3);
* ``ColumnMetaData``: type (1), encodings (2), path_in_schema (3),
  codec (4), num_values (5), total_uncompressed_size (6),
  total_compressed_size (7), data_page_offset (9),
  dictionary_page_offset (11), statistics (12) with the modern
  ``min_value``/``max_value`` (fields 5/6, PLAIN-encoded) and
  ``null_count`` (3);
* ``bloom_filter_offset`` (14) surfaces when present — the reader's
  view of what scan_parquet_bloom writes.

Unknown fields of every struct are SKIPPED BY TYPE (the rule that
makes Thrift forward-compatible), so footers written by newer
writers parse. The registry key feeds this parser with files written
by PYARROW — a real third-party writer — so the round-trip is a
genuine interop check, not self-confirmation.

Typed ValueError on malformed shapes: missing PAR1 magic, footer
length past file start, truncated varints/strings, unknown compact
type nibbles, struct nesting that escapes the buffer, a field whose
wire type differs from the schema's (a name or struct read as an int).
"""

from __future__ import annotations

import struct

__all__ = ["parse_parquet_footer", "thrift_compact_struct"]

# compact-protocol type nibbles
_T_BOOL_T = 1
_T_BOOL_F = 2
_T_BYTE = 3
_T_I16 = 4
_T_I32 = 5
_T_I64 = 6
_T_DOUBLE = 7
_T_BINARY = 8
_T_LIST = 9
_T_SET = 10
_T_MAP = 11
_T_STRUCT = 12


def _read_uvarint(data: bytes, pos: int) -> tuple[int, int]:
    v = 0
    shift = 0
    for _ in range(10):
        if pos >= len(data):
            raise ValueError("truncated thrift varint")
        b = data[pos]
        pos += 1
        v |= (b & 0x7F) << shift
        if not b & 0x80:
            return v, pos
        shift += 7
    raise ValueError("thrift varint longer than 10 bytes")


def _zigzag(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _read_value(data: bytes, pos: int, ttype: int):
    if ttype in (_T_BOOL_T, _T_BOOL_F):
        return ttype == _T_BOOL_T, pos
    if ttype == _T_BYTE:
        if pos >= len(data):
            raise ValueError("truncated thrift byte")
        v = data[pos]
        return v - 256 if v >= 128 else v, pos + 1
    if ttype in (_T_I16, _T_I32, _T_I64):
        v, pos = _read_uvarint(data, pos)
        return _zigzag(v), pos
    if ttype == _T_DOUBLE:
        if pos + 8 > len(data):
            raise ValueError("truncated thrift double")
        return struct.unpack_from("<d", data, pos)[0], pos + 8
    if ttype == _T_BINARY:
        n, pos = _read_uvarint(data, pos)
        if pos + n > len(data):
            raise ValueError(f"truncated thrift binary (declared {n})")
        return data[pos:pos + n], pos + n
    if ttype in (_T_LIST, _T_SET):
        hdr = data[pos] if pos < len(data) else None
        if hdr is None:
            raise ValueError("truncated thrift list header")
        pos += 1
        size = hdr >> 4
        etype = hdr & 0xF
        if size == 15:
            size, pos = _read_uvarint(data, pos)
        out = []
        for _ in range(size):
            v, pos = _read_value(data, pos, etype)
            out.append(v)
        return out, pos
    if ttype == _T_MAP:
        size, pos = _read_uvarint(data, pos)
        if size == 0:
            return {}, pos
        if pos >= len(data):
            raise ValueError("truncated thrift map header")
        kv = data[pos]
        pos += 1
        ktype, vtype = kv >> 4, kv & 0xF
        out = {}
        for _ in range(size):
            k, pos = _read_value(data, pos, ktype)
            v, pos = _read_value(data, pos, vtype)
            out[k if not isinstance(k, (list, dict)) else str(k)] = v
        return out, pos
    if ttype == _T_STRUCT:
        return thrift_compact_struct(data, pos)
    raise ValueError(f"unknown thrift compact type {ttype}")


def thrift_compact_struct(data: bytes, pos: int = 0) -> tuple[dict, int]:
    """Parse one compact-protocol struct -> ({field_id: value}, end).
    Bools land as Python bools; i16/i32/i64 as ints; binary as bytes;
    lists/maps/structs nest. Unknown fields are parsed (and thereby
    skipped) by their wire type — the Thrift compatibility rule."""
    fields: dict = {}
    fid = 0
    while True:
        if pos >= len(data):
            raise ValueError("truncated thrift struct (no STOP)")
        b = data[pos]
        pos += 1
        if b == 0:
            return fields, pos
        delta = b >> 4
        ttype = b & 0xF
        if delta:
            fid += delta
        else:  # long form: explicit zigzag field id
            v, pos = _read_uvarint(data, pos)
            fid = _zigzag(v)
        val, pos = _read_value(data, pos, ttype)
        fields[fid] = val
    # unreachable


def _stats(d: dict | None) -> dict:
    if not isinstance(d, dict):
        return {}
    out = {}
    if 3 in d:
        out["null_count"] = d[3]
    if 5 in d:
        out["max_value"] = d[5]
    if 6 in d:
        out["min_value"] = d[6]
    # legacy min(2)/max(1) kept as raw bytes when present
    if 1 in d:
        out["max_legacy"] = d[1]
    if 2 in d:
        out["min_legacy"] = d[2]
    return out


def _want(v, kind: type, what: str):
    """A footer field as the schema types it. The compact protocol
    carries each field's wire type, so a flipped bit can hand back an
    int where bytes or a struct belong: refuse that with ValueError."""
    if not isinstance(v, kind):
        raise ValueError(
            f"footer {what} is {type(v).__name__}, not {kind.__name__}"
        )
    return v


def parse_parquet_footer(data: bytes) -> dict:
    """Whole-file bytes -> decoded FileMetaData.

    Returns {"version", "num_rows", "created_by", "schema":
    [{name, type, repetition}], "row_groups": [{num_rows,
    total_byte_size, columns: [{path, codec, num_values,
    data_page_offset, dictionary_page_offset, bloom_filter_offset,
    total_compressed_size, stats: {...}}]}]}. INT64/INT32 statistics
    are decoded from their PLAIN little-endian encoding."""
    if len(data) < 12 or data[-4:] != b"PAR1":
        raise ValueError("missing PAR1 trailing magic")
    (flen,) = struct.unpack_from("<I", data, len(data) - 8)
    start = len(data) - 8 - flen
    if start < 4:  # must leave room for the leading magic
        raise ValueError(
            f"footer length {flen} escapes the file ({len(data)} bytes)"
        )
    meta, _ = thrift_compact_struct(data[start:len(data) - 8])
    schema = []
    for el in _want(meta.get(2, []), list, "schema"):
        # SchemaElement: type(1), repetition(3), name(4), num_children(5)
        el = _want(el, dict, "schema element")
        schema.append(
            dict(
                name=_want(el.get(4, b""), bytes, "field name").decode("utf-8"),
                type=el.get(1),
                repetition=el.get(3),
                num_children=el.get(5, 0),
            )
        )
    phys = {s["name"]: s["type"] for s in schema}

    def dec_stat(v: bytes, ptype: int | None):
        if not isinstance(v, bytes):
            return None
        if ptype == 1 and len(v) == 4:  # INT32
            return struct.unpack("<i", v)[0]
        if ptype == 2 and len(v) == 8:  # INT64
            return struct.unpack("<q", v)[0]
        return v  # byte arrays etc.: raw

    row_groups = []
    for rg in _want(meta.get(4, []), list, "row groups"):
        rg = _want(rg, dict, "row group")
        cols = []
        for cc in _want(rg.get(1, []), list, "column chunks"):
            md = _want(_want(cc, dict, "column chunk").get(3, {}), dict,
                       "column metadata")
            path = [_want(p, bytes, "path").decode("utf-8")
                    for p in _want(md.get(3, []), list, "path")]
            ptype = md.get(1)
            st = _stats(md.get(12))
            for k in ("min_value", "max_value"):
                if k in st:
                    st[k] = dec_stat(st[k], ptype)
            cols.append(
                dict(
                    path=".".join(path),
                    type=ptype,
                    codec=md.get(4),
                    num_values=md.get(5),
                    total_compressed_size=md.get(7),
                    data_page_offset=md.get(9),
                    dictionary_page_offset=md.get(11),
                    bloom_filter_offset=md.get(14),
                    stats=st,
                )
            )
        row_groups.append(
            dict(
                num_rows=rg.get(3),
                total_byte_size=rg.get(2),
                columns=cols,
            )
        )
    return dict(
        version=meta.get(1),
        num_rows=meta.get(3),
        created_by=_want(meta.get(6, b""), bytes, "created_by").decode(
            "utf-8", "replace"),
        schema=schema,
        row_groups=row_groups,
        phys_types=phys,
    )
