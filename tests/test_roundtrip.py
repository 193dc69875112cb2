"""Serialize -> parse identity over real RDF corpora × option grid.

Mirrors the reference's e2e matrix
(/root/reference/tests/e2e_tests/test_e2e.py:36-43): lookup presets ×
frame sizes {1, 4, 200, 10000} over the .nt/.nq corpora in
/root/reference/tests/e2e_test_cases/. Statement ORDER and duplicates
must be preserved exactly (the reference sink is a deque —
/root/reference/pyjelly/integrations/generic/generic_sink.py:148), so we
assert list equality, stronger than the reference's set equality.
"""

import glob
import os

import pytest

from pyjelly_spark.jelly import constants as c
from pyjelly_spark.jelly.decoder import decode_flat
from pyjelly_spark.jelly.encoder import StreamEncoder, encode_flat
from pyjelly_spark.jelly.nt import parse_line, read_ntriples, statement_to_nt

CASES = "/root/reference/tests/e2e_test_cases"
NT_FILES = sorted(glob.glob(f"{CASES}/triples_rdf_1_1/*.nt"))
NQ_FILES = sorted(glob.glob(f"{CASES}/quads_rdf_1_1/*.nq"))

requires_corpora = pytest.mark.skipif(
    not NT_FILES, reason="reference e2e corpora not available"
)

PRESETS = {
    "big": c.TablePreset(),
    "small": c.TablePreset(names=128, prefixes=32, datatypes=32),
    "no_prefixes": c.TablePreset(names=128, prefixes=0, datatypes=32),
    "tiny": c.TablePreset(names=16, prefixes=8, datatypes=32),
}
FRAME_SIZES = [1, 4, 200, 10000]


def _normalize(statements):
    """xsd:string datatypes are suppressed on the wire and decode untyped
    (/root/reference/pyjelly/serialize/encode.py:147)."""
    return [
        tuple(
            ("lit", t[1], "", "") if t[0] == "lit" and t[3] == c.XSD_STRING else t
            for t in stmt
        )
        for stmt in statements
    ]


def _roundtrip(statements, options):
    frames = list(encode_flat(statements, options))
    decoded = list(decode_flat(iter(frames)))
    out = []
    for event in decoded:
        out.append(tuple(event[1:]))
    return out


@requires_corpora
@pytest.mark.parametrize(
    "path", NT_FILES, ids=[os.path.basename(p) for p in NT_FILES]
)
@pytest.mark.parametrize("preset_name", list(PRESETS))
@pytest.mark.parametrize("frame_rows", FRAME_SIZES)
def test_triples_roundtrip(path, preset_name, frame_rows):
    statements = list(read_ntriples(path))
    options = c.StreamOptions(
        physical_type=c.PHYSICAL_TRIPLES,
        logical_type=c.LOGICAL_FLAT_TRIPLES,
        preset=PRESETS[preset_name],
        frame_rows=frame_rows,
    )
    assert _roundtrip(statements, options) == _normalize(statements)


@requires_corpora
@pytest.mark.parametrize(
    "path", NQ_FILES, ids=[os.path.basename(p) for p in NQ_FILES]
)
@pytest.mark.parametrize("preset_name", ["big", "small"])
@pytest.mark.parametrize("frame_rows", FRAME_SIZES)
def test_quads_roundtrip(path, preset_name, frame_rows):
    raw = list(read_ntriples(path))
    # N-Quads with 3 terms are in the default graph
    statements = [
        stmt if len(stmt) == 4 else (*stmt, ("dg",))
        for stmt in raw
    ]
    options = c.StreamOptions(
        physical_type=c.PHYSICAL_QUADS,
        logical_type=c.LOGICAL_FLAT_QUADS,
        preset=PRESETS[preset_name],
        frame_rows=frame_rows,
    )
    assert _roundtrip(statements, options) == _normalize(statements)


@requires_corpora
def test_non_delimited_single_frame():
    statements = list(read_ntriples(NT_FILES[0]))
    options = c.StreamOptions(delimited=False)
    frames = list(encode_flat(statements, options))
    assert len(frames) == 1
    decoded = [tuple(e[1:]) for e in decode_flat(iter(frames))]
    assert decoded == statements


def _mini_corpus():
    lines = [
        '<http://ex.org/s1> <http://ex.org/p> "plain" .',
        '<http://ex.org/s1> <http://ex.org/p> "tagged"@en .',
        '<http://ex.org/s1> <http://ex.org/p> '
        '"2020-01-01T00:00:00"^^<http://www.w3.org/2001/XMLSchema#dateTime> .',
        '<http://ex.org/s1> <http://ex.org/p> '
        '"str"^^<http://www.w3.org/2001/XMLSchema#string> .',
        "_:b0 <http://ex.org/p> _:b1 .",
        "<http://ex.org/s2> <http://ex.org/p> <urn:uuid:no-separator> .",
        '<http://ex.org/s2> <http://ex.org/p> "dup" .',
        '<http://ex.org/s2> <http://ex.org/p> "dup" .',
    ]
    return [parse_line(line) for line in lines]


def test_mini_corpus_roundtrip_all_presets():
    statements = _mini_corpus()
    for preset in PRESETS.values():
        for frame_rows in FRAME_SIZES:
            options = c.StreamOptions(preset=preset, frame_rows=frame_rows)
            assert _roundtrip(statements, options) == _normalize(statements)


def test_duplicates_and_order_preserved():
    statements = _mini_corpus() * 3
    result = _roundtrip(statements, c.StreamOptions())
    assert len(result) == len(statements)


def test_lru_eviction_stress():
    """>capacity distinct names forces eviction + index recycling."""
    statements = [
        (
            ("iri", f"http://ex.org/subject-{i}"),
            ("iri", "http://ex.org/p"),
            ("iri", f"http://other.org/{i % 7}/name-{i}"),
        )
        for i in range(500)
    ]
    options = c.StreamOptions(
        preset=c.TablePreset(names=16, prefixes=8, datatypes=8), frame_rows=64
    )
    assert _roundtrip(statements, options) == statements


def test_rdf_star_quoted_triples():
    inner = (("iri", "http://ex.org/s"), ("iri", "http://ex.org/p"), ("lit", "v", "", ""))
    statements = [
        (("qt", *inner), ("iri", "http://ex.org/certainty"), ("lit", "0.9", "", "")),
        (("iri", "http://ex.org/s"), ("iri", "http://ex.org/about"), ("qt", *inner)),
    ]
    options = c.StreamOptions(rdf_star=True)
    assert _roundtrip(statements, options) == statements


def test_graphs_physical_roundtrip():
    """GRAPHS physical type: graph brackets resolve back into quads."""
    options = c.StreamOptions(
        physical_type=c.PHYSICAL_GRAPHS, logical_type=c.LOGICAL_FLAT_QUADS
    )
    encoder = StreamEncoder(options)
    g1 = ("iri", "http://ex.org/graph1")
    triples = [
        (("iri", f"http://ex.org/s{i}"), ("iri", "http://ex.org/p"), ("lit", str(i), "", ""))
        for i in range(5)
    ]
    frames = []
    encoder.begin_graph(g1)
    for s, p, o in triples[:3]:
        frame = encoder.add_triple(s, p, o)
        if frame:
            frames.append(frame)
    frame = encoder.end_graph()
    if frame:
        frames.append(frame)
    encoder.begin_graph(("dg",))
    for s, p, o in triples[3:]:
        frame = encoder.add_triple(s, p, o)
        if frame:
            frames.append(frame)
    frame = encoder.end_graph()
    if frame:
        frames.append(frame)
    tail = encoder.take_frame()
    if tail:
        frames.append(tail)

    decoded = list(decode_flat(iter(frames)))
    expected = [("quad", *t, g1) for t in triples[:3]] + [
        ("quad", *t, ("dg",)) for t in triples[3:]
    ]
    assert decoded == expected


def test_namespace_declarations_roundtrip():
    options = c.StreamOptions(namespace_declarations=True)
    assert options.version == 2
    encoder = StreamEncoder(options)
    encoder._begin()
    encoder.declare_namespace("ex", "http://ex.org/ns#")
    frame = encoder.add_triple(
        ("iri", "http://ex.org/ns#a"), ("iri", "http://ex.org/ns#b"), ("lit", "x", "", "")
    )
    frames = [f for f in (frame, encoder.take_frame()) if f]
    events = list(decode_flat(iter(frames)))
    assert events[0] == ("namespace", "ex", ("iri", "http://ex.org/ns#"))
    assert events[1][0] == "triple"


def test_nt_writer_roundtrip():
    statements = _mini_corpus()
    lines = [statement_to_nt(s) for s in statements]
    assert [parse_line(line) for line in lines] == statements
