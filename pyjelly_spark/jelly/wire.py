"""Minimal protobuf wire-format primitives for the Jelly RDF schema.

The sandbox has no ``protobuf`` runtime, so this module hand-rolls the
subset of the proto3 wire format that the Jelly protocol uses: varints,
length-delimited fields, and a tolerant field walker for decoding.

Schema source of truth: the public Jelly protocol
(``eu.ostrzyciel.jelly.core.proto.v1``), as carried by the reference's
generated descriptor (/root/reference/pyjelly/jelly/rdf_pb2.py:27).
Field numbers were extracted from that descriptor and are mirrored in
:mod:`pyjelly_spark.jelly.constants`.

Encoding here is deterministic by construction: fields are emitted in
ascending tag order, matching protobuf's deterministic serialization
(the reference relies on ``deterministic=True``,
/root/reference/pyjelly/serialize/ioutils.py:13).
"""

from __future__ import annotations

from typing import Iterator, Tuple

from pyjelly_spark.jelly.constants import JellyError


def _uvarint_raw(value: int) -> bytes:
    if value < 0x80:
        return bytes((value,))
    out = bytearray()
    while value > 0x7F:
        out.append((value & 0x7F) | 0x80)
        value >>= 7
    out.append(value)
    return bytes(out)


# Precomputed encodings for the values that dominate real streams (tags,
# lookup ids, frame-row lengths): ~35% of encoder CPU went into re-encoding
# these same small varints (profile: wire.uvarint 900k calls / 30k stmts).
_UV_CACHE = tuple(_uvarint_raw(v) for v in range(1 << 14))


def uvarint(value: int) -> bytes:
    """Encode a non-negative int as a base-128 varint."""
    if 0 <= value < 1 << 14:
        return _UV_CACHE[value]
    if value < 0:
        raise ValueError(f"cannot varint-encode negative value {value}")
    return _uvarint_raw(value)


def read_uvarint(buf: bytes, pos: int) -> Tuple[int, int]:
    """Decode a varint from ``buf`` at ``pos``; return (value, new_pos).

    Raises JellyError when ``buf`` ends inside the varint or the varint
    runs past 10 bytes (64 bits).
    """
    result = 0
    shift = 0
    try:
        while True:
            byte = buf[pos]
            pos += 1
            result |= (byte & 0x7F) << shift
            if not byte & 0x80:
                return result, pos
            shift += 7
            if shift > 63:
                raise JellyError("varint longer than 10 bytes")
    except IndexError:
        raise JellyError("truncated varint") from None


def varint_field(field_number: int, value: int) -> bytes:
    """A varint-typed field; caller decides whether 0 is emitted."""
    tag = field_number << 3
    head = _UV_CACHE[tag] if tag < 1 << 14 else _uvarint_raw(tag)
    return head + uvarint(value)


def len_field(field_number: int, payload: bytes) -> bytes:
    """A length-delimited field (string / bytes / sub-message)."""
    tag = (field_number << 3) | 2
    head = _UV_CACHE[tag] if tag < 1 << 14 else _uvarint_raw(tag)
    n = len(payload)
    if n < 1 << 14:
        return head + _UV_CACHE[n] + payload
    return head + _uvarint_raw(n) + payload


def str_field(field_number: int, value: str) -> bytes:
    return len_field(field_number, value.encode("utf-8"))


def iter_fields(buf: bytes) -> Iterator[Tuple[int, int, object]]:
    """Walk a serialized message, yielding (field_number, wire_type, value).

    value is an int for varints and a memoryview-compatible bytes slice for
    length-delimited fields. Fixed32/64 are surfaced as raw bytes (unused by
    the Jelly schema but tolerated for forward compatibility).
    """
    pos = 0
    n = len(buf)
    while pos < n:
        tag, pos = read_uvarint(buf, pos)
        field_number = tag >> 3
        wire_type = tag & 7
        if wire_type == 0:
            value, pos = read_uvarint(buf, pos)
        elif wire_type == 2:
            length, pos = read_uvarint(buf, pos)
        elif wire_type == 5:
            length = 4
        elif wire_type == 1:
            length = 8
        else:
            raise JellyError(f"unsupported wire type {wire_type}")
        if wire_type:
            value = buf[pos : pos + length]
            if len(value) != length:
                raise JellyError("truncated field")
            pos += length
        yield field_number, wire_type, value


def field_bytes(wire_type: int, value) -> bytes:
    """The bytes of a field the schema declares length-delimited.

    Raises JellyError for any other wire type: ``bytes(n)`` of a varint
    ``n`` would allocate n zero bytes.
    """
    if wire_type != 2:
        raise JellyError(f"expected a length-delimited field, got wire type {wire_type}")
    return bytes(value)


def field_varint(wire_type: int, value) -> int:
    """The value of a field the schema declares a varint.

    Raises JellyError for any other wire type: ``int()`` of a
    length-delimited field would parse its bytes as decimal text.
    """
    if wire_type != 0:
        raise JellyError(f"expected a varint field, got wire type {wire_type}")
    return value
