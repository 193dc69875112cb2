"""Conformance-manifest walk: the reference's certification structure.

The reference drives jelly-cli over a W3C-style RDF test manifest
(/root/reference/tests/conformance_tests/test_rdf/test_parse.py walks
manifest entries typed jellyt:TestPositive / jellyt:TestNegative and
categorized by mf:requires). That manifest lives in a git submodule that
is absent here, so this module walks an IN-REPO manifest
(tests/conformance/manifest.json, cases generated deterministically by
tests/conformance/generate_cases.py) with the same shape:

- positive cases: parse the action file, serialize to N-Triples/Quads,
  compare against the expected result file (ordered, like the
  reference's ``--compare-ordered``);
- negative cases: parsing the action file must raise a protocol error
  matching the manifest's recorded reason.

Case taxonomy mirrors the reference manifest's families: options
validation, lookup-index rules, term rules, framing, RDF-star, and
logical-type strictness.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

import pytest

from pyjelly_spark.jelly.constants import JellyError
from pyjelly_spark.jelly.decoder import decode_flat
from pyjelly_spark.jelly.grouped import decode_grouped
from pyjelly_spark.jelly.ioutils import frames_from_bytes
from pyjelly_spark.jelly.nt import statement_to_nt

HERE = Path(__file__).resolve().parent / "conformance"
MANIFEST = HERE / "manifest.json"

CASES = json.loads(MANIFEST.read_text(encoding="utf-8"))
POSITIVE = [c for c in CASES if c["type"] == "positive"]
NEGATIVE = [c for c in CASES if c["type"] == "negative"]


def _resolve(path: str) -> Path:
    p = Path(path)
    return p if p.is_absolute() else HERE / p


def _frames(case) -> list[bytes]:
    return list(frames_from_bytes(_resolve(case["action"]).read_bytes()))


def _parse(case):
    parser = case.get("parser", "flat")
    frames = _frames(case)
    if parser == "flat":
        return list(decode_flat(frames))
    if parser == "flat-strict":
        return list(decode_flat(frames, logical_type_strict=True))
    if parser == "grouped":
        return [
            ev
            for events, _meta in decode_grouped(frames)
            for ev in events
        ]
    if parser == "grouped-strict":
        return [
            ev
            for events, _meta in decode_grouped(
                frames, logical_type_strict=True
            )
            for ev in events
        ]
    if parser == "options":
        from pyjelly_spark.jelly.ioutils import read_stream_options

        return read_stream_options(_resolve(case["action"]).read_bytes())
    raise ValueError(parser)


def test_manifest_has_enough_coverage():
    """The manifest must stay a real suite: >= 30 cases spanning the
    protocol-violation families and both verdict types."""
    assert len(CASES) >= 30
    assert len(POSITIVE) >= 10 and len(NEGATIVE) >= 15
    families = {c["id"].split("/")[1] for c in NEGATIVE}
    assert {"options", "lookup", "term", "framing", "logical"} <= families


@pytest.mark.parametrize(
    "case",
    [
        pytest.param(
            c,
            marks=pytest.mark.skipif(
                not _resolve(c["action"]).exists(),
                reason=f"{c['action']} not available",
            ),
        )
        for c in POSITIVE
    ],
    ids=[c["id"] for c in POSITIVE],
)
def test_positive(case):
    events = _parse(case)
    if case.get("result") is None:
        # golden with no serialized expectation: must parse non-empty
        # (reference sample.jelly: exactly 55 triples)
        if "reference-sample" in case["id"]:
            assert len(events) == 55
        return
    got = "".join(
        statement_to_nt(tuple(ev[1:])) + "\n" for ev in events
    )
    want = _resolve(case["result"]).read_text(encoding="utf-8")
    assert got == want, case["id"]


@pytest.mark.parametrize(
    "case", NEGATIVE, ids=[c["id"] for c in NEGATIVE]
)
def test_negative(case):
    with pytest.raises((JellyError, ValueError)) as excinfo:
        _parse(case)
    assert re.search(case["error_match"], str(excinfo.value)), (
        case["id"],
        str(excinfo.value),
    )
