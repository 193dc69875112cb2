"""Jelly stream decoder: framed wire bytes -> statement tuples.

Decode-side duals of the encoder, replicating the reference semantics:

- lookup assignment with ``0 => last assigned + 1``
  (/root/reference/pyjelly/parse/lookup.py:37-43)
- prefix slot ``0`` = sticky last-used (or "" when never used)
  (/root/reference/pyjelly/parse/lookup.py:53-57)
- name slot ``0`` = last-used + 1 (parse/lookup.py:59-64)
- datatype slot must be explicit (parse/lookup.py:66-70)
- repeated terms: an absent oneof repeats the slot's previous term
  (/root/reference/pyjelly/parse/decode.py:391-425)
- quoted triples forbid repeated terms (parse/decode.py:431-443)

Statements come out as the same plain tuples the encoder consumes.
"""

from __future__ import annotations

from typing import Dict, Iterable, Iterator, List, Optional, Tuple

from pyjelly_spark.jelly import constants as c
from pyjelly_spark.jelly.wire import field_bytes, field_varint, iter_fields, read_uvarint

Term = tuple


class DecodeTable:
    """Decoder-side lookup table: index -> string with delta defaults."""

    __slots__ = ("capacity", "_values", "last_set", "last_used")

    def __init__(self, capacity: int) -> None:
        if capacity > c.MAX_TABLE:
            raise c.JellyError(f"lookup size cannot be larger than {c.MAX_TABLE}")
        self.capacity = capacity
        self._values: List[Optional[str]] = [None] * capacity
        self.last_set = 0
        self.last_used = 0

    def out_of_range(self, index: int) -> c.JellyError:
        return c.JellyError(
            f"lookup index {index} is outside the table's capacity {self.capacity}"
        )

    def put(self, index: int, value: str) -> None:
        if index == 0:
            index = self.last_set + 1
        try:
            self._values[index - 1] = value
        except IndexError:
            raise self.out_of_range(index) from None
        self.last_set = index

    def fetch(self, index: int) -> str:
        self.last_used = index
        try:
            value = self._values[index - 1]
        except IndexError:
            raise self.out_of_range(index) from None
        if value is None:
            raise c.JellyError(f"lookup index {index} was never assigned")
        return value

    def prefix_at(self, index: int) -> str:
        effective = index or self.last_used
        if effective == 0:
            return ""
        return self.fetch(effective)

    def name_at(self, index: int) -> str:
        effective = index or self.last_used + 1
        if effective == 0:
            raise c.JellyError("0 is not a valid name term index")
        return self.fetch(effective)

    def datatype_at(self, index: int) -> str:
        if index == 0:
            raise c.JellyError("0 is not a valid datatype term index")
        return self.fetch(index)


_VARINT_OPTIONS = frozenset(
    (
        c.OPT_PHYSICAL_TYPE,
        c.OPT_GENERALIZED,
        c.OPT_RDF_STAR,
        c.OPT_MAX_NAMES,
        c.OPT_MAX_PREFIXES,
        c.OPT_MAX_DATATYPES,
        c.OPT_LOGICAL_TYPE,
        c.OPT_VERSION,
    )
)


def parse_options_row(body: bytes, delimited: bool) -> c.StreamOptions:
    """Materialize a StreamOptions from an RdfStreamOptions message body."""
    values: Dict[int, object] = {}
    for field, wt, value in iter_fields(body):
        if field == c.OPT_STREAM_NAME:
            values[field] = field_bytes(wt, value)
        elif field in _VARINT_OPTIONS:
            values[field] = field_varint(wt, value)
    version = values.get(c.OPT_VERSION, 0)
    if version > c.PROTO_VERSION_WITH_NAMESPACES:
        # Jelly spec: a consumer MUST reject a stream declaring a
        # version above what it supports (we speak 1 and 2)
        raise c.JellyError(
            f"unsupported protocol version {version} "
            f"(max {c.PROTO_VERSION_WITH_NAMESPACES})"
        )
    return c.StreamOptions(
        physical_type=values.get(c.OPT_PHYSICAL_TYPE, 0),
        logical_type=values.get(c.OPT_LOGICAL_TYPE, 0),
        preset=c.TablePreset(
            names=values.get(c.OPT_MAX_NAMES, 0),
            prefixes=values.get(c.OPT_MAX_PREFIXES, 0),
            datatypes=values.get(c.OPT_MAX_DATATYPES, 0),
        ),
        stream_name=values.get(c.OPT_STREAM_NAME, b"").decode("utf-8"),
        generalized=bool(values.get(c.OPT_GENERALIZED, 0)),
        rdf_star=bool(values.get(c.OPT_RDF_STAR, 0)),
        # the parser infers namespace support from version >= 2
        # (/root/reference/pyjelly/parse/decode.py:64-66)
        namespace_declarations=version >= c.PROTO_VERSION_WITH_NAMESPACES,
        delimited=delimited,
    )


def split_frame(frame: bytes) -> Tuple[List[bytes], Dict[str, bytes]]:
    """One RdfStreamFrame -> (row byte-strings, metadata map).

    Hot path: the rows field (tag 0x0A) is walked inline; anything else
    falls back to the generic iter_fields walk (same tolerance for
    unknown fields as before, just off the fast path).
    """
    rows: List[bytes] = []
    metadata: Dict[str, bytes] = {}
    pos = 0
    n = len(frame)
    try:
        while pos < n:
            if frame[pos] == 0x0A:  # FRAME_ROWS, wire type 2
                pos += 1
                ln = frame[pos]
                pos += 1
                if ln >= 0x80:
                    ln, pos = read_uvarint(frame, pos - 1)
                end = pos + ln
                if end > n:
                    raise c.JellyError("truncated frame row")
                rows.append(frame[pos:end])
                pos = end
            else:
                break
    except IndexError:
        raise c.JellyError("truncated frame row") from None
    if pos < n:  # metadata / unknown fields: generic walk of the tail
        for field, wt, value in iter_fields(frame[pos:]):
            if field == c.FRAME_ROWS:
                rows.append(field_bytes(wt, value))
            elif field == c.FRAME_METADATA:
                key, data = "", b""
                for mf, mw, mv in iter_fields(field_bytes(wt, value)):
                    if mf == 1:
                        key = field_bytes(mw, mv).decode("utf-8")
                    elif mf == 2:
                        data = field_bytes(mw, mv)
                metadata[key] = data
    return rows, metadata


class StreamDecoder:
    """Decodes the rows of one Jelly stream, maintaining all stream state.

    Emits event tuples:
      ("triple", s, p, o) | ("quad", s, p, o, g)
      | ("graph_start", g) | ("graph_end",) | ("namespace", label, iri_term)
    """

    def __init__(self, options: Optional[c.StreamOptions] = None) -> None:
        self.options = options
        self._repeated: List[Optional[Term]] = [None, None, None, None]
        # until the options row sizes them the tables hold nothing, so a
        # lookup entry or reference before it is out of range
        self._names = self._prefixes = self._datatypes = DecodeTable(0)
        if options is not None:
            self._allocate(options)

    def _allocate(self, options: c.StreamOptions) -> None:
        self._names = DecodeTable(options.preset.names)
        self._prefixes = DecodeTable(options.preset.prefixes)
        self._datatypes = DecodeTable(options.preset.datatypes)

    # --------------------------------------------------------------- terms
    # The fast decoders below walk the expected tags inline (the wire our
    # encoder and the reference emit); an unexpected tag falls back to the
    # *_slow generic duals, preserving unknown-field tolerance.
    def _decode_iri(self, body: bytes) -> Term:
        prefix_id = name_id = 0
        pos = 0
        n = len(body)
        while pos < n:
            tag = body[pos]
            pos += 1
            if tag == 0x08 or tag == 0x10:  # prefix_id / name_id varints
                v = body[pos]
                pos += 1
                if v >= 0x80:
                    v, pos = read_uvarint(body, pos - 1)
                if tag == 0x08:
                    prefix_id = v
                else:
                    name_id = v
            else:
                return self._decode_iri_slow(body)
        # name_at / prefix_at inlined (DecodeTable remains the semantic
        # reference, exercised by tests/test_lookup_vectors.py)
        nt = self._names
        idx = name_id or nt.last_used + 1
        nt.last_used = idx
        try:
            name = nt._values[idx - 1]
        except IndexError:
            raise nt.out_of_range(idx) from None
        if name is None:
            raise c.JellyError(f"lookup index {idx} was never assigned")
        pt = self._prefixes
        if pt.capacity:
            eff = prefix_id or pt.last_used
            if eff:
                pt.last_used = eff
                try:
                    prefix = pt._values[eff - 1]
                except IndexError:
                    raise pt.out_of_range(eff) from None
                if prefix is None:
                    raise c.JellyError(f"lookup index {eff} was never assigned")
                return ("iri", prefix + name)
        return ("iri", name)

    def _decode_iri_slow(self, body: bytes) -> Term:
        prefix_id = name_id = 0
        for field, wt, value in iter_fields(body):
            if field == 1:
                prefix_id = field_varint(wt, value)
            elif field == 2:
                name_id = field_varint(wt, value)
        name = self._names.name_at(name_id)
        prefix = self._prefixes.prefix_at(prefix_id) if self._prefixes.capacity else ""
        return ("iri", prefix + name)

    def _decode_literal(self, body: bytes) -> Term:
        lex, lang, datatype = "", "", ""
        datatype_id = None
        pos = 0
        n = len(body)
        while pos < n:
            tag = body[pos]
            pos += 1
            if tag == 0x0A or tag == 0x12:  # lex / langtag strings
                ln = body[pos]
                pos += 1
                if ln >= 0x80:
                    ln, pos = read_uvarint(body, pos - 1)
                end = pos + ln
                if end > n:
                    raise c.JellyError("truncated length-delimited field")
                if tag == 0x0A:
                    lex = body[pos:end].decode("utf-8")
                else:
                    lang = body[pos:end].decode("utf-8")
                pos = end
            elif tag == 0x18:  # datatype id varint
                v = body[pos]
                pos += 1
                if v >= 0x80:
                    v, pos = read_uvarint(body, pos - 1)
                datatype_id = v
            else:
                return self._decode_literal_slow(body)
        if not lang and datatype_id is not None and self._datatypes.capacity:
            datatype = self._datatypes.datatype_at(datatype_id)
        return ("lit", lex, lang, datatype)

    def _decode_literal_slow(self, body: bytes) -> Term:
        lex, lang, datatype = "", "", ""
        datatype_id = None
        for field, wt, value in iter_fields(body):
            if field == 1:
                lex = field_bytes(wt, value).decode("utf-8")
            elif field == 2:
                lang = field_bytes(wt, value).decode("utf-8")
            elif field == 3:
                datatype_id = field_varint(wt, value)
        if not lang and datatype_id is not None and self._datatypes.capacity:
            datatype = self._datatypes.datatype_at(datatype_id)
        return ("lit", lex, lang, datatype)

    def _decode_slot_term(self, kind_offset: int, value: bytes) -> Term:
        if kind_offset == 0:
            return self._decode_iri(value)
        if kind_offset == 1:
            return ("bnode", value.decode("utf-8"))
        if kind_offset == 2:
            return self._decode_literal(value)
        return self._decode_quoted(value)

    def _decode_quoted(self, body: bytes) -> Term:
        slots: List[Optional[Term]] = [None, None, None]
        for field, wt, value in iter_fields(body):
            slot, offset = divmod(field - 1, 4)
            slots[slot] = self._decode_slot_term(offset, field_bytes(wt, value))
        if any(term is None for term in slots):
            raise c.JellyError("repeated terms are not allowed in quoted triples")
        return ("qt", slots[0], slots[1], slots[2])

    def _decode_graph_term(self, offset: int, value: bytes) -> Term:
        # offsets within the graph oneof: 0=iri 1=bnode 2=default 3=literal
        if offset == 0:
            return self._decode_iri(value)
        if offset == 1:
            return ("bnode", value.decode("utf-8"))
        if offset == 2:
            return ("dg",)
        return self._decode_literal(value)

    # ---------------------------------------------------------------- rows
    def _decode_statement(self, body: bytes, is_quad: bool) -> Term:
        if self.options is None:
            # Jelly spec: the options row MUST precede any statement
            raise c.JellyError("statement row before options row")
        s = p = o = None
        graph_term: Optional[Term] = None
        saw_graph = False
        pos = 0
        n = len(body)
        while pos < n:
            tag = body[pos]
            pos += 1
            if tag >= 0x80:
                tag, pos = read_uvarint(body, pos - 1)
            if tag & 7 != 2:  # every statement field is a term message
                raise c.JellyError(f"statement field has wire type {tag & 7}, not 2")
            ln = body[pos]
            pos += 1
            if ln >= 0x80:
                ln, pos = read_uvarint(body, pos - 1)
            end = pos + ln
            if end > n:
                raise c.JellyError("truncated length-delimited field")
            value = body[pos:end]
            pos = end
            field = tag >> 3
            if field >= c.QUAD_G_IRI:
                graph_term = self._decode_graph_term(field - c.QUAD_G_IRI, value)
                saw_graph = True
                continue
            slot, offset = divmod(field - 1, 4)
            if offset == 0:
                term = self._decode_iri(value)
            elif offset == 1:
                term = ("bnode", value.decode("utf-8"))
            elif offset == 2:
                term = self._decode_literal(value)
            else:
                term = self._decode_quoted(value)
            if slot == 0:
                s = term
            elif slot == 1:
                p = term
            elif slot == 2:
                o = term
        repeated = self._repeated
        if s is None:
            s = repeated[0]
            if s is None:
                raise c.JellyError("missing repeated term in slot 0")
        else:
            repeated[0] = s
        if p is None:
            p = repeated[1]
            if p is None:
                raise c.JellyError("missing repeated term in slot 1")
        else:
            repeated[1] = p
        if o is None:
            o = repeated[2]
            if o is None:
                raise c.JellyError("missing repeated term in slot 2")
        else:
            repeated[2] = o
        if not is_quad:
            return ("triple", s, p, o)
        if saw_graph:
            repeated[3] = graph_term
        else:
            graph_term = repeated[3]
            if graph_term is None:
                raise c.JellyError("missing repeated graph term")
        return ("quad", s, p, o, graph_term)

    def decode_row(self, row: bytes) -> Optional[Term]:
        """Decode one RdfStreamRow; lookup rows return None (state only).

        Every real row is a single length-delimited oneof field with a
        one-byte tag; that shape is parsed inline, anything else drops to
        the generic walk below. A malformed row raises JellyError.
        """
        try:
            n = len(row)
            if not n:
                return None
            tag = row[0]
            if tag < 0x80 and tag & 7 == 2:
                ln = row[1]
                pos = 2
                if ln >= 0x80:
                    ln, pos = read_uvarint(row, 1)
                end = pos + ln
                if end > n:
                    raise c.JellyError("truncated length-delimited field")
                field = tag >> 3
                payload = row[pos:end]
            else:
                fields = list(iter_fields(row))
                if not fields:
                    return None
                field, _wt, value = fields[0]
                payload = bytes(value) if not isinstance(value, int) else b""
            if field == c.ROW_TRIPLE:
                return self._decode_statement(payload, is_quad=False)
            if field == c.ROW_QUAD:
                return self._decode_statement(payload, is_quad=True)
            if field == c.ROW_NAME_ENTRY:
                entry_id, text = _entry(payload)
                self._names.put(entry_id, text)
                return None
            if field == c.ROW_PREFIX_ENTRY:
                entry_id, text = _entry(payload)
                self._prefixes.put(entry_id, text)
                return None
            if field == c.ROW_DATATYPE_ENTRY:
                entry_id, text = _entry(payload)
                self._datatypes.put(entry_id, text)
                return None
            if field == c.ROW_OPTIONS:
                parsed = parse_options_row(payload, delimited=True)
                if self.options is None:
                    self.options = parsed
                    self._allocate(parsed)
                else:
                    self._validate(parsed)
                return None
            if field == c.ROW_GRAPH_START:
                graph_fields = list(iter_fields(payload))
                if not graph_fields:
                    raise c.JellyError("graph_start row without a graph term")
                gf, gw, gv = graph_fields[0]
                return ("graph_start", self._decode_graph_term(gf - 1, field_bytes(gw, gv)))
            if field == c.ROW_GRAPH_END:
                return ("graph_end",)
            if field == c.ROW_NAMESPACE:
                label, iri_term = "", None
                for nf, nw, nv in iter_fields(payload):
                    if nf == 1:
                        label = field_bytes(nw, nv).decode("utf-8")
                    elif nf == 2:
                        iri_term = self._decode_iri(field_bytes(nw, nv))
                return ("namespace", label, iri_term)
            raise c.JellyError(f"unknown stream row field {field}")
        except (IndexError, UnicodeDecodeError) as exc:
            # a row body that ends inside a field the inline fast paths
            # index into (e.g. a tag with no length byte), or a string
            # field that is not UTF-8
            raise c.JellyError(f"malformed stream row: {exc}") from exc

    def _validate(self, parsed: c.StreamOptions) -> None:
        """Options rows after the first must agree with the stream
        (/root/reference/pyjelly/parse/decode.py:259-267)."""
        expected = self.options
        if (
            parsed.physical_type != expected.physical_type
            or parsed.logical_type != expected.logical_type
            or parsed.preset != expected.preset
            or parsed.stream_name != expected.stream_name
        ):
            raise c.JellyError("stream options row contradicts stream state")

    # --------------------------------------------------------------- frames
    def decode_frame(self, frame: bytes) -> Iterator[Term]:
        rows, _metadata = split_frame(frame)
        for row in rows:
            event = self.decode_row(row)
            if event is not None:
                yield event


def _entry(payload: bytes) -> Tuple[int, str]:
    entry_id, text = 0, ""
    pos = 0
    n = len(payload)
    while pos < n:
        tag = payload[pos]
        pos += 1
        if tag == 0x08:  # id varint
            v = payload[pos]
            pos += 1
            if v >= 0x80:
                v, pos = read_uvarint(payload, pos - 1)
            entry_id = v
        elif tag == 0x12:  # value string
            ln = payload[pos]
            pos += 1
            if ln >= 0x80:
                ln, pos = read_uvarint(payload, pos - 1)
            end = pos + ln
            if end > n:
                raise c.JellyError("truncated length-delimited field")
            text = payload[pos:end].decode("utf-8")
            pos = end
        else:  # unknown field: generic walk (tolerated, as before)
            for field, wt, value in iter_fields(payload):
                if field == 1:
                    entry_id = field_varint(wt, value)
                elif field == 2:
                    text = field_bytes(wt, value).decode("utf-8")
            return entry_id, text
    return entry_id, text


def decode_flat(
    frames: Iterable[bytes], *, logical_type_strict: bool = False
) -> Iterator[Term]:
    """All frames -> flat statement events; GRAPHS brackets are resolved
    into quads with the current graph term
    (/root/reference/pyjelly/integrations/generic/parse.py:150-160).

    ``logical_type_strict`` ports the reference's strict gate
    (parse.py:357-395): the stream's declared logical type must be FLAT
    (TRIPLES/QUADS), not merely base-compatible — checked as soon as
    the options row has been decoded (first frame)."""
    decoder = StreamDecoder()
    current_graph: Optional[Term] = None
    checked = not logical_type_strict
    for frame in frames:
        for event in decoder.decode_frame(frame):
            if not checked and decoder.options is not None:
                c.check_logical_type_strict(decoder.options, "flat")
                checked = True
            kind = event[0]
            if kind == "graph_start":
                current_graph = event[1]
            elif kind == "graph_end":
                current_graph = None
            elif kind == "triple" and current_graph is not None:
                yield ("quad", event[1], event[2], event[3], current_graph)
            else:
                yield event
    if not checked:
        # End-of-stream fallback only: a stream whose first frame is
        # empty but whose options row arrives in a later frame is
        # legal, so the per-frame check (which would reject it) is
        # deliberately absent. Statement-before-options ordering is
        # enforced by the decoder itself.
        c.check_logical_type_strict(decoder.options, "flat")
