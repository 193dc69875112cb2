"""File-level framing: delimited sniffing, frame iteration, read/write.

Replicates the reference's 3-byte delimitedness truth table
(/root/reference/pyjelly/parse/ioutils.py:14-54) and varint
length-prefixed frame walking (parse/ioutils.py:57-59).

Every frame reader here consumes one walk, :func:`walk_frames`, over a
pyarrow ``RandomAccessFile``: ``filesystem.open_input_file(...)`` for a
file or object, ``pa.BufferReader`` for bytes already in memory. The
walk holds one frame at a time, so a reader's residency is O(largest
frame) whatever the size of the object.
"""

from __future__ import annotations

from typing import IO, Iterator, List, Optional, Tuple

import pyarrow as pa

from pyjelly_spark.jelly import constants as c
from pyjelly_spark.jelly.decoder import parse_options_row, split_frame
from pyjelly_spark.jelly.encoder import delimit
from pyjelly_spark.jelly.wire import field_bytes, iter_fields, read_uvarint

# First read of every frame: its length varint (at most 10 bytes) plus
# the head of its body, enough for the scan's options-row probe (rows
# tag, first row's length, first row's tag) and the whole of tiny frames.
_HEAD_BYTES = 64


def looks_delimited(head: bytes) -> bool:
    """Sniff delimited vs single-frame from the first 3 bytes.

    0x0A is both "varint 10" and the tag of RdfStreamFrame.rows — the
    truth table disambiguates (parse/ioutils.py:14-54):

      byte0 != 0A                    -> delimited
      0A, byte1 != 0A                -> non-delimited
      0A, 0A, byte2 != 0A            -> delimited (first frame is 10 bytes)
      0A, 0A, 0A                     -> non-delimited
    """
    if len(head) < 3:
        return False
    return head[0] != 0x0A or (head[1] == 0x0A and head[2] != 0x0A)


def walk_frames(
    source, start: int = 0, end: Optional[int] = None, heads: bool = False
) -> Iterator[Tuple[int, int, int, bytes]]:
    """The frame walk every reader shares: one ``(frame_start,
    body_start, body_end, body)`` per varint-length-prefixed frame in
    ``[start, end)`` of a pyarrow RandomAccessFile (``end`` defaults to
    its size).

    Each frame is one read: its body plus the next frame's head (length
    prefix and first body bytes). With ``heads=True`` only heads are
    read and ``body`` is the head's share of it. On a remote store each
    read is a ranged request, so a walk makes one request per frame.

    The only bound on a length prefix is the bytes left in the range,
    checked before the body is read: a truncated or overlong prefix, or
    a length past ``end``, raises JellyError without allocating, so
    residency is O(one frame).
    """
    if end is None:
        end = source.size()
    pos = start
    head = source.read_at(min(_HEAD_BYTES, end - pos), pos)
    while pos < end:
        try:
            length, offset = read_uvarint(head, 0)
        except c.JellyError as exc:
            raise c.JellyError(f"{exc} in the frame length at byte {pos}") from None
        body_start = pos + offset
        body_end = body_start + length
        if body_end > end:
            raise c.JellyError(
                f"truncated frame at byte {pos}: its {length}-byte body runs "
                f"past the end of the range at byte {end}"
            )
        next_head = min(_HEAD_BYTES, end - body_end)
        if heads or offset + length <= len(head):
            body = head[offset : offset + length]
            head = source.read_at(next_head, body_end)
        else:
            chunk = source.read_at(length + next_head, body_start)
            body, head = chunk[:length], chunk[length:]
        yield pos, body_start, body_end, body
        pos = body_end


def read_frames(source, start: int = 0, end: Optional[int] = None) -> Iterator[bytes]:
    """All frame bodies of a Jelly byte range, delimited or not (the
    range's first 3 bytes decide), walked from a RandomAccessFile."""
    if end is None:
        end = source.size()
    if looks_delimited(source.read_at(min(3, end - start), start)):
        for _start, _body_start, _body_end, body in walk_frames(source, start, end):
            yield body
    elif end > start:
        yield source.read_at(end - start, start)


def iter_delimited_frames(data: bytes) -> Iterator[bytes]:
    """Walk varint-length-prefixed frames in a byte buffer."""
    return (body for _, _, _, body in walk_frames(pa.BufferReader(data)))


def frames_from_bytes(data: bytes) -> Iterator[bytes]:
    """All frames of a Jelly byte buffer, delimited or not."""
    return read_frames(pa.BufferReader(data))


def read_stream_options(data: bytes) -> c.StreamOptions:
    """Extract the options row from the first non-empty frame."""
    for frame in frames_from_bytes(data):
        rows, _meta = split_frame(frame)
        if rows:
            field, wire_type, value = next(iter_fields(rows[0]), (None, 2, b""))
            if field != c.ROW_OPTIONS:
                raise c.JellyError("first row of the stream is not an options row")
            return parse_options_row(
                field_bytes(wire_type, value), delimited=looks_delimited(data[:3])
            )
    raise c.JellyError("no non-empty frames found in the stream")


def write_frames(
    frames: Iterator[bytes],
    out: IO[bytes],
    *,
    delimited: bool = True,
) -> int:
    """Write frames to a binary stream; returns bytes written."""
    written = 0
    if delimited:
        for frame in frames:
            chunk = delimit(frame)
            out.write(chunk)
            written += len(chunk)
    else:
        collected = list(frames)
        if len(collected) > 1:
            raise c.JellyError("non-delimited output must be a single frame")
        for frame in collected:
            out.write(frame)
            written += len(frame)
    return written


def sniff_file(path: str, head_bytes: Optional[bytes] = None) -> bool:
    """Delimitedness of a file on disk (reads only 3 bytes)."""
    if head_bytes is None:
        with open(path, "rb") as handle:
            head_bytes = handle.read(3)
    return looks_delimited(head_bytes)


def read_file_bytes(path: str) -> bytes:
    """Read a (possibly gzip-compressed) jelly stream's bytes.

    Gzip is detected by magic (1f 8b), not extension, so `.jelly.gz`
    and mislabeled files both work — the reference has no compressed-
    stream support; this matches how its rdflib plugin would receive
    already-decompressed input while letting our CLI/tools take .gz
    directly.
    """
    with open(path, "rb") as handle:
        head = handle.read(2)
        handle.seek(0)
        if head == b"\x1f\x8b":
            import gzip

            with gzip.open(handle) as gz:
                return gz.read()
        return handle.read()


def build_frame_index(path: str) -> List[Tuple[int, int, int]]:
    """Byte-offset index of a delimited .jelly file: one
    (byte_offset, byte_length, n_rows) triple per frame, in order.

    The Jelly framing is length-prefixed, so the index is built with a
    single sequential varint walk — no row decoding — and enables
    random access (``read_frame_at``) into streams too large to decode
    front-to-back: the seekable-source pattern (HTTP range requests,
    object-store reads) the delimited format exists to support.
    """
    with pa.OSFile(path) as source:
        if not looks_delimited(source.read_at(3, 0)):
            raise c.JellyError("frame index requires a delimited stream")
        return [
            (start, body_end - start, len(split_frame(body)[0]))
            for start, _body_start, body_end, body in walk_frames(source)
        ]


def _frame_head_is_options(head: bytes, read_body) -> bool:
    """True iff the frame's FIRST row is an options row: the
    concatenation-boundary probe of :func:`read_segments`, since every
    self-contained stream OPENS with an options row (parse/decode.py).

    A frame that leads with its rows field, as every frame this codec or
    the reference writes does, is answered from ``head`` (rows tag,
    first row's length and tag). Any other layout, or a head too short,
    walks the whole body from ``read_body()``, where a rows field that
    is not length-delimited raises JellyError.
    """
    try:
        tag, pos = read_uvarint(head, 0)
        if tag == 0x0A:  # FRAME_ROWS, wire type 2
            length, pos = read_uvarint(head, pos)
            return length > 0 and read_uvarint(head, pos)[0] >> 3 == c.ROW_OPTIONS
    except c.JellyError:
        pass  # the head ends before the answer
    for num, wire_type, value in iter_fields(read_body()):
        if num == c.FRAME_ROWS:
            for row_field, _wt, _value in iter_fields(field_bytes(wire_type, value)):
                return row_field == c.ROW_OPTIONS
            return False
    return False


def read_segments(source) -> List[Tuple[int, int, int]]:
    """Split points of a (possibly concatenated) delimited Jelly object
    in a RandomAccessFile: one ``(byte_start, byte_end,
    first_frame_idx)`` per independent stream segment.

    A segment starts at byte 0 and at every frame whose first row is an
    options row. CONTRACT — this is concatenation semantics, opt-in
    because a single continuing stream may also RE-EMIT its options row
    mid-stream (parse/decode.py:259-267) and the two shapes are
    byte-indistinguishable. For genuine concatenations (``cat a.jelly
    b.jelly``) decoding each segment with a FRESH decoder is the ONLY
    correct read: a sequential decoder carries stream A's lookup tables
    into stream B and silently resolves B's references against them.
    For re-emitting single streams, segment decoding would be wrong the
    opposite way.

    A single-encoder file yields one segment; a non-delimited object is
    one segment by definition. Cost: the frame walk over frame heads
    only, one read per frame — no body, no row or term decode.
    """
    end = source.size()
    if not looks_delimited(source.read_at(min(3, end), 0)):
        return [(0, end, 0)]
    starts: List[Tuple[int, int]] = []
    walk = walk_frames(source, heads=True)
    for fidx, (start, body_start, body_end, head) in enumerate(walk):
        if fidx == 0 or _frame_head_is_options(
            head, lambda: source.read_at(body_end - body_start, body_start)
        ):
            starts.append((start, fidx))
    return [
        (start, starts[i + 1][0] if i + 1 < len(starts) else end, first_frame)
        for i, (start, first_frame) in enumerate(starts)
    ]


def scan_stream_segments(data: bytes) -> List[Tuple[int, int, int]]:
    """:func:`read_segments` of a byte buffer."""
    return read_segments(pa.BufferReader(data))


def read_frame_at(path: str, offset: int, length: int) -> bytes:
    """Read one delimited frame's body given its index entry."""
    with pa.OSFile(path) as source:
        for _start, _body_start, _body_end, body in walk_frames(
            source, offset, offset + length
        ):
            return body
    raise c.JellyError(f"no frame at byte {offset}")
