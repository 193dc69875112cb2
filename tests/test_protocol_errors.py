"""Protocol-violation negative cases.

Ports the reference's error-path expectations:
- incompatible physical/logical stream-type combinations
  (/root/reference/tests/unit_tests/test_serialize/test_streams.py:92-108,
   /root/reference/pyjelly/options.py:119-139)
- lookup-size bounds (options.py:17-19, parse/lookup.py:28-30)
- invalid / never-assigned lookup indices (parse/lookup.py:44-49, 57-70)
- quoted-triple repeated-term prohibition (parse/decode.py:431-443)
- options-row contradictions mid-stream (parse/decode.py:259-267)
- framing violations (truncated frames, non-delimited multi-frame,
  options row not first — parse/ioutils.py, serialize/ioutils.py)
"""

from __future__ import annotations

import pytest

from pyjelly_spark.jelly import constants as jc
from pyjelly_spark.jelly.constants import JellyError, StreamOptions, TablePreset
from pyjelly_spark.jelly.decoder import (
    DecodeTable,
    StreamDecoder,
    decode_flat,
    split_frame,
)
from pyjelly_spark.jelly.encoder import StreamEncoder, delimit, encode_flat
from pyjelly_spark.jelly.ioutils import (
    frames_from_bytes,
    iter_delimited_frames,
    read_stream_options,
    scan_stream_segments,
    write_frames,
)
from pyjelly_spark.jelly.wire import len_field, str_field, uvarint, varint_field

# The three frame readers every malformed-input case must go through: the
# walk, the segment scan and the flat decode.
READERS = {
    "walk": lambda data: list(iter_delimited_frames(data)),
    "scan": scan_stream_segments,
    "decode": lambda data: list(decode_flat(frames_from_bytes(data))),
}


def _stream(n: int = 3, preset: TablePreset = TablePreset(), tag: str = "e") -> bytes:
    statements = [
        (iri(f"http://{tag}/s{i}"), iri(f"http://{tag}/p"), ("lit", f"v{i}", "", ""))
        for i in range(n)
    ]
    options = StreamOptions(preset=preset, frame_rows=10)
    return b"".join(delimit(f) for f in encode_flat(statements, options))


def iri(v):
    return ("iri", v)


class TestOptionsMatrix:
    """Physical/logical compatibility matrix (reference test_streams.py:92-108)."""

    @pytest.mark.parametrize(
        ("physical", "logical"),
        [
            (jc.PHYSICAL_TRIPLES, jc.LOGICAL_FLAT_QUADS),
            (jc.PHYSICAL_TRIPLES, jc.LOGICAL_DATASETS),
            (jc.PHYSICAL_TRIPLES, jc.LOGICAL_NAMED_GRAPHS),
            (jc.PHYSICAL_QUADS, jc.LOGICAL_FLAT_TRIPLES),
            (jc.PHYSICAL_QUADS, jc.LOGICAL_GRAPHS),
            (jc.PHYSICAL_QUADS, jc.LOGICAL_SUBJECT_GRAPHS),
            (jc.PHYSICAL_GRAPHS, jc.LOGICAL_FLAT_TRIPLES),
            (jc.PHYSICAL_GRAPHS, jc.LOGICAL_GRAPHS),
        ],
    )
    def test_incompatible_combinations_raise(self, physical, logical):
        with pytest.raises(JellyError, match="incompatible"):
            StreamOptions(physical_type=physical, logical_type=logical)

    @pytest.mark.parametrize(
        ("physical", "logical"),
        [
            (jc.PHYSICAL_TRIPLES, jc.LOGICAL_FLAT_TRIPLES),
            (jc.PHYSICAL_TRIPLES, jc.LOGICAL_GRAPHS),
            (jc.PHYSICAL_TRIPLES, jc.LOGICAL_SUBJECT_GRAPHS),
            (jc.PHYSICAL_QUADS, jc.LOGICAL_FLAT_QUADS),
            (jc.PHYSICAL_QUADS, jc.LOGICAL_DATASETS),
            (jc.PHYSICAL_GRAPHS, jc.LOGICAL_FLAT_QUADS),
            (jc.PHYSICAL_GRAPHS, jc.LOGICAL_NAMED_GRAPHS),
            (jc.PHYSICAL_GRAPHS, jc.LOGICAL_TIMESTAMPED_NAMED_GRAPHS),
        ],
    )
    def test_compatible_combinations_accepted(self, physical, logical):
        StreamOptions(physical_type=physical, logical_type=logical)


class TestLookupBounds:
    def test_preset_above_protocol_max_raises(self):
        with pytest.raises(JellyError, match="4096"):
            TablePreset(names=4097)
        with pytest.raises(JellyError, match="4096"):
            TablePreset(prefixes=4097)

    def test_name_table_below_min_raises(self):
        with pytest.raises(JellyError, match="at least 8"):
            TablePreset(names=7)

    def test_decoder_table_above_max_raises(self):
        with pytest.raises(JellyError, match="4096"):
            DecodeTable(4097)

    def test_encoder_disabled_table_add_raises(self):
        enc = StreamEncoder(
            StreamOptions(preset=TablePreset(names=8, prefixes=0, datatypes=0))
        )
        with pytest.raises(JellyError, match="datatype table disabled"):
            enc.add_triple(
                iri("http://e/s"),
                iri("http://e/p"),
                ("lit", "1", "", "http://www.w3.org/2001/XMLSchema#int"),
            )


class TestDecoderIndexGuards:
    def test_never_assigned_index_raises(self):
        table = DecodeTable(8)
        with pytest.raises(JellyError, match="never assigned"):
            table.fetch(3)

    def test_datatype_index_zero_raises(self):
        table = DecodeTable(8)
        with pytest.raises(JellyError, match="not a valid datatype"):
            table.datatype_at(0)

    def test_bad_iri_index_in_stream_raises(self):
        """A statement referencing name index 5 with an empty table."""
        decoder = StreamDecoder(StreamOptions())
        # RdfTriple with s_iri{name_id=5}, p/o bnodes
        body = (
            len_field(jc.SLOT_SUBJECT_BASE, varint_field(2, 5))
            + str_field(jc.SLOT_PREDICATE_BASE + 1, "b1")
            + str_field(jc.SLOT_OBJECT_BASE + 1, "b2")
        )
        with pytest.raises(JellyError, match="never assigned"):
            decoder.decode_row(len_field(jc.ROW_TRIPLE, body))

    def test_put_beyond_capacity_raises(self):
        with pytest.raises(JellyError, match="index 9 .*capacity 8"):
            DecodeTable(8).put(9, "x")

    def test_sequential_put_beyond_capacity_raises(self):
        table = DecodeTable(8)
        for i in range(8):
            table.put(0, f"n{i}")
        with pytest.raises(JellyError, match="index 9 .*capacity 8"):
            table.put(0, "one too many")

    def test_fetch_beyond_capacity_raises(self):
        with pytest.raises(JellyError, match="index 9 .*capacity 8"):
            DecodeTable(8).fetch(9)

    def test_iri_index_beyond_capacity_in_stream_raises(self):
        decoder = StreamDecoder(StreamOptions(preset=TablePreset(names=8)))
        body = (
            len_field(jc.SLOT_SUBJECT_BASE, varint_field(2, 9))
            + str_field(jc.SLOT_PREDICATE_BASE + 1, "b1")
            + str_field(jc.SLOT_OBJECT_BASE + 1, "b2")
        )
        with pytest.raises(JellyError, match="index 9 .*capacity 8"):
            decoder.decode_row(len_field(jc.ROW_TRIPLE, body))

    def test_lookup_entry_before_options_raises(self):
        with pytest.raises(JellyError, match="capacity 0"):
            StreamDecoder().decode_row(
                len_field(jc.ROW_NAME_ENTRY, str_field(2, "http://e/"))
            )

    def test_concatenated_streams_decoded_sequentially_raise(self):
        """Nine same-preset streams in one object, decoded as ONE stream:
        stream 2's first name entry lands past the table stream 1 filled."""
        preset = TablePreset(names=8, prefixes=4, datatypes=2)
        data = b"".join(_stream(30, preset, f"e{k}") for k in range(9))
        assert len(scan_stream_segments(data)) == 9
        with pytest.raises(JellyError, match="capacity 8"):
            list(decode_flat(frames_from_bytes(data)))

    def test_quoted_triple_repeats_forbidden(self):
        decoder = StreamDecoder(StreamOptions(rdf_star=True))
        # quoted triple missing its predicate slot = illegal repeat
        quoted = len_field(jc.SLOT_SUBJECT_BASE + 1, b"b0") + len_field(
            jc.SLOT_OBJECT_BASE + 1, b"b2"
        )
        body = (
            len_field(jc.SLOT_SUBJECT_BASE + 3, quoted)
            + str_field(jc.SLOT_PREDICATE_BASE + 1, "b1")
            + str_field(jc.SLOT_OBJECT_BASE + 1, "b2")
        )
        with pytest.raises(JellyError, match="quoted triples"):
            decoder.decode_row(len_field(jc.ROW_TRIPLE, body))

    def test_missing_repeated_term_raises(self):
        """First statement of a stream cannot rely on repeated terms."""
        decoder = StreamDecoder(StreamOptions())
        body = str_field(jc.SLOT_PREDICATE_BASE + 1, "b1") + str_field(
            jc.SLOT_OBJECT_BASE + 1, "b2"
        )  # subject slot absent
        with pytest.raises(JellyError, match="missing repeated term"):
            decoder.decode_row(len_field(jc.ROW_TRIPLE, body))


class TestStreamStateGuards:
    def _options_row_bytes(self, options: StreamOptions) -> bytes:
        return StreamEncoder(options)._options_row()

    def test_contradicting_options_row_raises(self):
        decoder = StreamDecoder()
        decoder.decode_row(self._options_row_bytes(StreamOptions()))
        other = StreamOptions(preset=TablePreset.small())
        with pytest.raises(JellyError, match="contradicts"):
            decoder.decode_row(self._options_row_bytes(other))

    def test_repeated_identical_options_row_ok(self):
        decoder = StreamDecoder()
        row = self._options_row_bytes(StreamOptions())
        decoder.decode_row(row)
        decoder.decode_row(row)  # no error: protocol allows re-emission


class TestFramingViolations:
    def test_truncated_delimited_frame_raises(self):
        frames = list(
            encode_flat(
                [(iri("http://e/s"), iri("http://e/p"), iri("http://e/o"))],
                StreamOptions(),
            )
        )
        data = b"".join(delimit(f) for f in frames)[:-2]
        with pytest.raises(JellyError, match="truncated"):
            list(iter_delimited_frames(data))

    @pytest.mark.parametrize("reader", sorted(READERS))
    def test_truncated_length_varint_raises(self, reader):
        with pytest.raises(JellyError, match="truncated"):
            READERS[reader](_stream() + b"\x80")

    @pytest.mark.parametrize("reader", sorted(READERS))
    def test_overlong_length_varint_raises(self, reader):
        with pytest.raises(JellyError, match="longer than 10 bytes"):
            READERS[reader](_stream() + b"\xff" * 10 + b"\x01")

    @pytest.mark.parametrize("reader", sorted(READERS))
    def test_length_past_end_raises(self, reader):
        with pytest.raises(JellyError, match="truncated frame"):
            READERS[reader](_stream() + uvarint(1 << 62) + b"\x0a\x00")

    def test_non_delimited_multi_frame_write_raises(self):
        with pytest.raises(JellyError, match="single frame"):
            import io

            write_frames(iter([b"x", b"y"]), io.BytesIO(), delimited=False)

    def test_options_row_not_first_raises(self):
        # a frame whose first row is a triple, not options
        body = (
            str_field(jc.SLOT_SUBJECT_BASE + 1, "b0")
            + str_field(jc.SLOT_PREDICATE_BASE + 1, "b1")
            + str_field(jc.SLOT_OBJECT_BASE + 1, "b2")
        )
        frame = len_field(jc.FRAME_ROWS, len_field(jc.ROW_TRIPLE, body))
        data = delimit(frame)
        with pytest.raises(JellyError, match="not an options row"):
            read_stream_options(data)

    def test_unknown_row_field_raises(self):
        decoder = StreamDecoder(StreamOptions())
        with pytest.raises(JellyError, match="unknown stream row"):
            decoder.decode_row(len_field(13, b""))

    def test_empty_stream_has_no_options(self):
        with pytest.raises(JellyError, match="no non-empty frames"):
            read_stream_options(b"")

    def test_frames_from_empty_bytes(self):
        assert list(frames_from_bytes(b"")) == []


class TestFrameWireTypes:
    """A frame's rows field must be length-delimited. Read as a varint
    ``n`` it would make ``bytes(n)`` allocate n zero bytes."""

    ROWS_AS_VARINT = b"\x08" + uvarint(1 << 24)  # field 1, wire type 0

    def test_scan_rejects_varint_rows_field(self):
        data = _stream() + delimit(self.ROWS_AS_VARINT)
        with pytest.raises(JellyError, match="wire type 0"):
            scan_stream_segments(data)

    def test_split_frame_rejects_varint_rows_field(self):
        with pytest.raises(JellyError, match="wire type 0"):
            split_frame(self.ROWS_AS_VARINT)

    def test_split_frame_rejects_varint_metadata_field(self):
        frame = len_field(jc.FRAME_ROWS, b"") + varint_field(jc.FRAME_METADATA, 1 << 24)
        with pytest.raises(JellyError, match="wire type 0"):
            split_frame(frame)

    @pytest.mark.parametrize("reader", ["decode", "scan"])
    @pytest.mark.parametrize("wire_type", [0, 1, 3, 4, 5, 6, 7])
    def test_non_delimited_rows_field_raises(self, reader, wire_type):
        """The readers that look inside frames; the walk only frames."""
        good = _stream()
        bad = bytes([(jc.FRAME_ROWS << 3) | wire_type]) + b"\x01" * 12
        data = good + delimit(bad) + good
        with pytest.raises(JellyError):
            READERS[reader](data)
