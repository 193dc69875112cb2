"""Malformed-input tier: every frame reader either yields a frame-aligned
prefix of a valid stream or raises JellyError — never another exception,
never a mis-decode — and holds one frame, not the object, in memory.

Cases (hypothesis over the generators of tests/test_codec_fuzz.py): a
valid stream cut at every byte offset, a giant or overlong length
prefix, a frame whose rows field has the wrong wire type, and a stream
whose options row is missing. Each goes through the walk
(``iter_delimited_frames``), the segment scan (``scan_stream_segments``)
and ``decode_flat``. A last case mutates one row body inside
well-formed frames, which only the decoder sees: it must decode or
raise JellyError.
"""

from __future__ import annotations

import tracemalloc

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from pyjelly_spark.jelly import constants as c
from pyjelly_spark.jelly.decoder import decode_flat, split_frame
from pyjelly_spark.jelly.encoder import delimit, encode_flat
from pyjelly_spark.jelly.ioutils import (
    build_frame_index,
    frames_from_bytes,
    iter_delimited_frames,
    read_frames,
    read_segments,
    scan_stream_segments,
)
from pyjelly_spark.jelly.wire import len_field, uvarint
from tests.test_codec_fuzz import _PRESETS, _statements


def _frames(data, preset, frame_rows):
    statements = data.draw(_statements(allow_datatype=preset.datatypes > 0, quads=False))
    options = c.StreamOptions(preset=preset, frame_rows=frame_rows)
    return list(encode_flat(iter(statements), options))


def _frame_prefixes(frames):
    """The events of every frame-aligned prefix of a valid stream."""
    return [list(decode_flat(frames[:k])) for k in range(len(frames) + 1)]


# Traced-memory ceiling for reading one small malformed stream: far above
# what a few-KB stream needs, far below a length or varint taken at face
# value (the cases below reach 1 MiB and more).
_PEAK_BOUND = 512 << 10


def _check(data: bytes, prefixes) -> None:
    """The tier's one property, for all three readers."""
    events = []
    tracemalloc.start()
    try:
        for read in (lambda: list(iter_delimited_frames(data)), lambda: scan_stream_segments(data)):
            try:
                read()
            except c.JellyError:
                pass
        try:
            for event in decode_flat(frames_from_bytes(data)):
                events.append(event)
        except c.JellyError:
            pass
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert events in prefixes
    assert peak < _PEAK_BOUND


@settings(max_examples=40, deadline=None)
@given(data=st.data(), preset=_PRESETS, frame_rows=st.sampled_from([1, 3, 250]))
def test_cut_at_every_offset(data, preset, frame_rows):
    frames = _frames(data, preset, frame_rows)
    stream = b"".join(delimit(f) for f in frames)
    prefixes = _frame_prefixes(frames)
    for cut in range(len(stream)):
        _check(stream[:cut], prefixes)


@settings(max_examples=60, deadline=None)
@given(
    data=st.data(),
    preset=_PRESETS,
    frame_rows=st.sampled_from([1, 3, 250]),
    length=st.one_of(
        st.integers(min_value=1 << 20, max_value=(1 << 64) - 1),
        st.just(None),  # an overlong, 11-byte varint
    ),
)
def test_giant_length(data, preset, frame_rows, length):
    frames = _frames(data, preset, frame_rows)
    k = data.draw(st.integers(min_value=0, max_value=len(frames) - 1))
    prefix = b"\xff" * 10 + b"\x01" if length is None else uvarint(length)
    stream = b"".join(delimit(f) for f in frames[:k]) + prefix + frames[k]
    _check(stream, _frame_prefixes(frames))


@settings(max_examples=100, deadline=None)
@given(
    data=st.data(),
    preset=_PRESETS,
    frame_rows=st.sampled_from([1, 3]),  # many frames: the scan probes k > 0
    wire_type=st.sampled_from([0, 1, 3, 4, 5, 6, 7]),
    value=st.one_of(st.none(), st.integers(min_value=1 << 20, max_value=1 << 24)),
)
def test_wrong_rows_wire_type(data, preset, frame_rows, wire_type, value):
    """Retag the first rows field of frame k, optionally followed by a
    large varint (the value ``bytes()`` would allocate if trusted)."""
    frames = _frames(data, preset, frame_rows)
    k = data.draw(st.integers(min_value=0, max_value=len(frames) - 1))
    tag = bytes([(c.FRAME_ROWS << 3) | wire_type])
    bad = tag + (b"" if value is None else uvarint(value)) + frames[k][1:]
    stream = b"".join(delimit(f) for f in frames[:k] + [bad] + frames[k + 1 :])
    _check(stream, _frame_prefixes(frames))


@settings(max_examples=40, deadline=None)
@given(data=st.data(), preset=_PRESETS, frame_rows=st.sampled_from([1, 3, 250]))
def test_options_less_stream(data, preset, frame_rows):
    frames = _frames(data, preset, frame_rows)
    rows, _meta = split_frame(frames[0])
    first = b"".join(len_field(c.FRAME_ROWS, row) for row in rows[1:])
    stream = b"".join(delimit(f) for f in [first] + frames[1:])
    _check(stream, [[]])


@settings(max_examples=200, deadline=None)
@given(
    data=st.data(),
    preset=_PRESETS,
    frame_rows=st.sampled_from([1, 3, 250]),
    mutation=st.sampled_from(["cut", "flip", "replace"]),
)
def test_mutated_row_body(data, preset, frame_rows, mutation):
    """Cut one row short, flip one of its bytes, or replace it with
    random bytes, inside well-formed frames. A flipped string byte can
    decode to other terms, so the property is only: the decoder yields
    events or raises JellyError, never another exception, in bounded
    memory."""
    frames = _frames(data, preset, frame_rows)
    k = data.draw(st.integers(min_value=0, max_value=len(frames) - 1))
    rows, _meta = split_frame(frames[k])
    j = data.draw(st.integers(min_value=0, max_value=len(rows) - 1))
    row = rows[j]
    if mutation == "cut":
        row = row[: data.draw(st.integers(min_value=1, max_value=len(row) - 1))]
    elif mutation == "flip":
        pos = data.draw(st.integers(min_value=0, max_value=len(row) - 1))
        bit = data.draw(st.integers(min_value=1, max_value=255))
        row = row[:pos] + bytes([row[pos] ^ bit]) + row[pos + 1 :]
    else:
        row = data.draw(st.binary(min_size=1, max_size=24))
    rows[j] = row
    frames[k] = b"".join(len_field(c.FRAME_ROWS, r) for r in rows)
    stream = b"".join(delimit(f) for f in frames)
    tracemalloc.start()
    try:
        try:
            for _event in decode_flat(frames_from_bytes(stream)):
                pass
        except c.JellyError:
            pass
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < _PEAK_BOUND


def test_file_walk_and_scan_hold_one_frame(tmp_path):
    """Walking and scanning a concatenated file at least 32x its largest
    frame peaks at O(frame) traced memory, not O(file)."""
    stream = b"".join(
        delimit(f)
        for f in encode_flat(
            (
                (("iri", f"http://e.org/s{i}"), ("iri", "http://e.org/p"), ("lit", f"v{i}", "", ""))
                for i in range(2000)
            ),
            c.StreamOptions(frame_rows=100),
        )
    )
    n_streams = 16
    path = tmp_path / "concat.jelly"
    path.write_bytes(stream * n_streams)
    largest = max(length for _offset, length, _rows in build_frame_index(str(path)))
    size = path.stat().st_size
    assert size >= 32 * largest
    bound = 4 * largest + (16 << 10)
    assert size > 4 * bound  # a whole-object read could not pass

    def peak(fn):
        tracemalloc.start()
        try:
            fn()
            return tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()

    def walk():
        with pa.OSFile(str(path)) as source:
            for _frame in read_frames(source):
                pass

    def scan():
        with pa.OSFile(str(path)) as source:
            assert len(read_segments(source)) == n_streams

    assert peak(walk) < bound
    assert peak(scan) < bound
