"""CLI surface: transcode / info / cat / validate round-trips."""

from __future__ import annotations

import io
import os
import sys

import pytest

from pyjelly_spark.cli import main
from pyjelly_spark.jelly.nt import read_ntriples

WEATHER = "/root/reference/tests/e2e_test_cases/triples_rdf_1_1/weather.nt"

pytestmark = pytest.mark.skipif(
    not os.path.exists(WEATHER), reason=f"{WEATHER} not available"
)


def run(capsys, *argv):
    rc = main(list(argv))
    return rc, capsys.readouterr().out


def test_transcode_roundtrip_nt_jelly_nt(tmp_path, capsys):
    j = tmp_path / "w.jelly"
    back = tmp_path / "back.nt"
    rc, out = run(capsys, "transcode", WEATHER, str(j), "--frame-rows", "50")
    assert rc == 0 and "115 statements" in out
    rc, out = run(capsys, "transcode", str(j), str(back))
    assert rc == 0
    assert list(read_ntriples(str(back))) == list(read_ntriples(WEATHER))


def test_transcode_gz_text_output_is_gzip(tmp_path, capsys):
    """A .nt.gz output must actually be gzip-compressed (the suffix was
    previously honored only on the jelly branch)."""
    import gzip

    j = tmp_path / "w.jelly"
    gz = tmp_path / "back.nt.gz"
    run(capsys, "transcode", WEATHER, str(j))
    rc, out = run(capsys, "transcode", str(j), str(gz))
    assert rc == 0
    with open(gz, "rb") as f:
        assert f.read(2) == b"\x1f\x8b"  # gzip magic
    with gzip.open(gz, "rt", encoding="utf-8") as f:
        lines = [ln for ln in f if ln.strip()]
    assert len(lines) == 115


def test_info_reports_options_and_counts(tmp_path, capsys):
    j = tmp_path / "w.jelly"
    run(capsys, "transcode", WEATHER, str(j), "--names", "128")
    rc, out = run(capsys, "info", str(j))
    assert rc == 0
    assert "physical_type: TRIPLES" in out
    assert "names=128" in out
    assert "triple: 115" in out


def test_validate_ok_and_invalid(tmp_path, capsys):
    j = tmp_path / "w.jelly"
    run(capsys, "transcode", WEATHER, str(j))
    rc, out = run(capsys, "validate", str(j))
    assert rc == 0 and "OK: 115" in out
    bad = tmp_path / "bad.jelly"
    bad.write_bytes(b"\x00" + j.read_bytes()[1:])
    # corrupting the head either breaks framing or the options row
    rc2 = main(["validate", str(bad)])
    capsys.readouterr()
    assert rc2 in (0, 1)  # must not crash; protocol errors exit 1


def test_reframe_jelly_to_jelly(tmp_path, capsys):
    j1 = tmp_path / "a.jelly"
    j2 = tmp_path / "b.jelly"
    run(capsys, "transcode", WEATHER, str(j1), "--frame-rows", "250")
    rc, out = run(capsys, "transcode", str(j1), str(j2), "--frame-rows", "10")
    assert rc == 0
    rc, out = run(capsys, "info", str(j2))
    assert "frames:        13" in out or "frames:" in out
    rc, out = run(capsys, "cat", str(j2))
    assert out.count(" .\n") == 115


def test_frame_index_random_access(tmp_path, capsys):
    """build_frame_index + read_frame_at: decoding ONLY the indexed
    frames reproduces the full stream's statements in order."""
    from pyjelly_spark.jelly.decoder import StreamDecoder
    from pyjelly_spark.jelly.ioutils import (
        build_frame_index,
        frames_from_bytes,
        read_frame_at,
    )

    j = tmp_path / "w.jelly"
    run(capsys, "transcode", WEATHER, str(j), "--frame-rows", "25")
    idx = build_frame_index(str(j))
    assert len(idx) >= 5
    assert sum(r for _, _, r in idx) > 115  # rows include options/entries
    # frame-by-frame via the index == frames_from_bytes
    data = j.read_bytes()
    direct = list(frames_from_bytes(data))
    via_idx = [read_frame_at(str(j), off, ln) for off, ln, _ in idx]
    assert via_idx == direct
    # offsets are contiguous and cover the file
    assert idx[0][0] == 0
    for (o1, l1, _), (o2, _, _) in zip(idx, idx[1:]):
        assert o1 + l1 == o2
    assert idx[-1][0] + idx[-1][1] == len(data)


def test_gzip_transcode_and_read(tmp_path, capsys):
    """transcode to .jelly.gz, then info/cat/validate read it
    transparently (magic-sniffed, not extension-trusted)."""
    gz = tmp_path / "w.jelly.gz"
    rc, out = run(capsys, "transcode", WEATHER, str(gz))
    assert rc == 0
    assert gz.read_bytes()[:2] == b"\x1f\x8b"
    rc, out = run(capsys, "validate", str(gz))
    assert rc == 0 and "OK: 115" in out
    rc, out = run(capsys, "info", str(gz))
    assert "delimited:     True" in out and "triple: 115" in out
    back = tmp_path / "b.nt"
    run(capsys, "transcode", str(gz), str(back))
    assert list(read_ntriples(str(back))) == list(read_ntriples(WEATHER))


def test_non_delimited_single_frame_cli(tmp_path, capsys):
    """--non-delimited writes one bare frame; info/cat/validate sniff
    and read it."""
    j = tmp_path / "w1.jelly"
    rc, out = run(capsys, "transcode", WEATHER, str(j), "--non-delimited",
                  "--frame-rows", "1000000")
    assert rc == 0
    rc, out = run(capsys, "info", str(j))
    assert "delimited:     False" in out
    assert "frames:        1" in out
    rc, out = run(capsys, "validate", str(j))
    assert rc == 0 and "OK: 115" in out


def test_quads_nq_roundtrip_cli(tmp_path, capsys):
    """.nq -> .jelly (QUADS physical inferred from arity) -> .nq
    round-trips the reference weather-quads fixture exactly."""
    NQ = "/root/reference/tests/e2e_test_cases/quads_rdf_1_1/weather-quads.nq"
    if not os.path.exists(NQ):
        pytest.skip(f"{NQ} not available")
    j = tmp_path / "q.jelly"
    back = tmp_path / "back.nq"
    rc, out = run(capsys, "transcode", NQ, str(j))
    assert rc == 0
    rc, out = run(capsys, "info", str(j))
    assert "physical_type: QUADS" in out
    rc, out = run(capsys, "transcode", str(j), str(back))
    assert rc == 0
    assert list(read_ntriples(str(back))) == list(read_ntriples(NQ))
