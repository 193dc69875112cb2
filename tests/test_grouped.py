"""Grouped / GRAPHS framing: codec primitives + the distributed path.

Mirrors the reference's grouped serialize/parse behavior
(/root/reference/pyjelly/integrations/generic/serialize.py:234-350,
 /root/reference/pyjelly/integrations/generic/parse.py:230-317) and its
logical-types matrix style
(/root/reference/tests/integration_tests/test_rdflib/test_logical_types.py).
"""

from __future__ import annotations

import os

import pytest

from pyjelly_spark.jelly import constants as jc
from pyjelly_spark.jelly.grouped import (
    decode_grouped,
    encode_grouped,
    grouped_options,
    split_to_graphs,
)
from pyjelly_spark.jelly.ioutils import frames_from_bytes, write_frames


def iri(v):
    return ("iri", v)


def quad(i, g):
    return (iri(f"http://ex.org/s{i}"), iri("http://ex.org/p"), iri(f"http://ex.org/o{i}"), g)


GA, GB = iri("http://ex.org/gA"), iri("http://ex.org/gB")


class TestSplitToGraphs:
    def test_consecutive_runs(self):
        groups = list(split_to_graphs([quad(1, GA), quad(2, GA), quad(3, GB)]))
        assert [g for g, _ in groups] == [GA, GB]
        assert [len(t) for _, t in groups] == [2, 1]

    def test_interleaved_graphs_make_separate_runs(self):
        # order-sensitive: re-visiting a graph opens a NEW group
        groups = list(split_to_graphs([quad(1, GA), quad(2, GB), quad(3, GA)]))
        assert [g for g, _ in groups] == [GA, GB, GA]

    def test_default_graph_runs(self):
        groups = list(split_to_graphs([quad(1, ("dg",)), quad(2, GA)]))
        assert [g for g, _ in groups] == [("dg",), GA]

    def test_empty(self):
        assert list(split_to_graphs([])) == []


class TestGroupedCodec:
    @pytest.mark.parametrize(
        "physical",
        [jc.PHYSICAL_GRAPHS, jc.PHYSICAL_QUADS, jc.PHYSICAL_TRIPLES],
    )
    def test_one_frame_per_group_roundtrip(self, physical, tmp_path):
        statements = [quad(1, GA), quad(2, GA), quad(3, GB), quad(4, GA)]
        groups = list(split_to_graphs(statements))
        options = grouped_options(physical)
        frames = list(encode_grouped(iter(groups), options))
        assert len(frames) == len(groups)  # one frame per group

        out = tmp_path / "grouped.jelly"
        with open(out, "wb") as handle:
            write_frames(iter(frames), handle)
        decoded = list(
            decode_grouped(frames_from_bytes(out.read_bytes()))
        )
        assert len(decoded) == len(groups)
        for (graph, triples), (events, _meta) in zip(groups, decoded):
            assert len(events) == len(triples)
            for (s, p, o), event in zip(triples, events):
                if physical == jc.PHYSICAL_TRIPLES:
                    assert event == ("triple", s, p, o)
                else:
                    assert event == ("quad", s, p, o, graph)

    def test_frame_metadata_carried(self):
        options = grouped_options(jc.PHYSICAL_GRAPHS)
        frames = list(
            encode_grouped(
                split_to_graphs([quad(1, GA)]),
                options,
                frame_metadata={"k": b"v"},
            )
        )
        (events, meta), = list(decode_grouped(iter(frames)))
        assert meta == {"k": b"v"}
        assert len(events) == 1


def _grouped_statements_df(spark):
    """Flat statements over 3 graphs, pre-sorted by graph per partition."""
    rows = []
    for g in ("gA", "gB", "gC"):
        for i in range(5):
            rows.append(
                (
                    g,
                    "iri", f"http://ex.org/{g}/s{i}", None, None,
                    "iri", "http://ex.org/p", None, None,
                    "iri", f"http://ex.org/o{i}", None, None,
                    "iri", f"http://ex.org/graph/{g}", None, None,
                )
            )
    cols = ["gkey"] + [
        f"{slot}_{part}"
        for slot in ("s", "p", "o", "g")
        for part in ("kind", "value", "lang", "datatype")
    ]
    df = spark.createDataFrame(rows, ", ".join(f"{c}: string" for c in cols))
    return df.repartition(2, "gkey").sortWithinPartitions("gkey", "s_value")


class TestDistributedGrouped:
    @pytest.mark.parametrize(
        "physical", [jc.PHYSICAL_GRAPHS, jc.PHYSICAL_QUADS]
    )
    def test_frame_per_graph_write_read(self, spark, tmp_path, physical):
        from pyjelly_spark.sources.jelly_io import read_jelly, write_jelly

        df = _grouped_statements_df(spark)
        out = str(tmp_path / f"grouped_{physical}")
        manifest = write_jelly(
            df,
            out,
            options=grouped_options(physical),
            grouped_by_graph=True,
            resume=False,
        )
        assert int(manifest["n_statements"].sum()) == 15

        decoded = read_jelly(spark, out).collect()
        assert len(decoded) == 15
        # every statement carries its graph term (brackets resolved)
        by_graph = {}
        frames_per_graph = {}
        for r in decoded:
            by_graph.setdefault(r["g_value"], []).append(r["s_value"])
            frames_per_graph.setdefault(r["g_value"], set()).add(
                (r["source_file"], r["frame_id"])
            )
        assert set(by_graph) == {
            f"http://ex.org/graph/g{x}" for x in ("A", "B", "C")
        }
        assert all(len(v) == 5 for v in by_graph.values())
        # the grouped contract: one frame per graph (graphs don't span
        # partitions because the partition plan keys on the graph)
        assert all(len(f) == 1 for f in frames_per_graph.values())

    def test_grouped_rejects_flat_logical_type(self, spark, tmp_path):
        from pyjelly_spark.sources.jelly_io import write_jelly

        df = _grouped_statements_df(spark)
        with pytest.raises(jc.JellyError, match="grouped logical type"):
            write_jelly(
                df,
                str(tmp_path / "bad"),
                options=jc.StreamOptions(),  # flat triples
                grouped_by_graph=True,
                resume=False,
            )

    def test_namespaces_through_distributed_path(self, spark, tmp_path):
        from pyjelly_spark.sources.jelly_io import (
            read_jelly,
            read_jelly_namespaces,
            write_jelly,
        )

        df = _grouped_statements_df(spark)
        out = str(tmp_path / "ns_out")
        ns = {"ex": "http://ex.org/", "kg": "http://kg.example/ns#"}
        write_jelly(
            df,
            out,
            options=grouped_options(
                jc.PHYSICAL_GRAPHS, namespace_declarations=True
            ),
            grouped_by_graph=True,
            namespaces=ns,
            resume=False,
        )
        got = read_jelly_namespaces(spark, out).collect()
        # every partition stream declares the same namespaces
        per_file = {}
        for r in got:
            per_file.setdefault(r["source_file"], {})[r["label"]] = r["iri"]
        assert per_file and all(v == ns for v in per_file.values())
        # statements still decode normally
        assert read_jelly(spark, out).count() == 15

    def test_frame_meta_surfaced(self, spark, tmp_path):
        from pyjelly_spark.sources.jelly_io import (
            read_jelly_frame_meta,
            write_jelly,
        )

        df = _grouped_statements_df(spark)
        out = str(tmp_path / "meta_out")
        write_jelly(df, out, resume=False)  # flat mode: tail frame has metadata
        meta = read_jelly_frame_meta(spark, out)
        tagged = meta.where(meta.key == "partition").collect()
        assert len(tagged) >= 1  # partition lineage visible distributed

    def test_file_uri_scheme_roundtrip(self, spark, tmp_path):
        """Exercise a non-bare path scheme through the pyarrow.fs layer."""
        from pyjelly_spark.sources.jelly_io import read_jelly, write_jelly

        df = _grouped_statements_df(spark)
        out_local = tmp_path / "uri_out"
        out_uri = "file://" + str(out_local)
        manifest = write_jelly(df, out_uri, resume=False)
        assert int(manifest["n_statements"].sum()) == 15
        assert (out_local / "_manifest").is_dir()  # landed on local disk
        assert read_jelly(spark, out_uri).count() == 15


class TestGuessOptions:
    def test_guess_by_arity(self, spark):
        from pyjelly_spark.sources.jelly_io import guess_options

        quads_df = _grouped_statements_df(spark)
        triples_df = quads_df.drop("g_kind", "g_value", "g_lang", "g_datatype")
        t = guess_options(triples_df)
        assert (t.physical_type, t.logical_type) == (
            jc.PHYSICAL_TRIPLES, jc.LOGICAL_FLAT_TRIPLES
        )
        q = guess_options(quads_df)
        assert (q.physical_type, q.logical_type) == (
            jc.PHYSICAL_QUADS, jc.LOGICAL_FLAT_QUADS
        )
        g = guess_options(quads_df, grouped_by_graph=True)
        assert (g.physical_type, g.logical_type) == (
            jc.PHYSICAL_GRAPHS, jc.LOGICAL_NAMED_GRAPHS
        )
        with pytest.raises(jc.JellyError, match="g_"):
            guess_options(triples_df, grouped_by_graph=True)

    def test_optionless_write_preserves_graphs(self, spark, tmp_path):
        """write_jelly with no options guesses a quads stream from the
        g_* columns, so graph terms round-trip by default."""
        from pyjelly_spark.sources.jelly_io import read_jelly, write_jelly

        df = _grouped_statements_df(spark)
        out = str(tmp_path / "guessed")
        write_jelly(df, out, resume=False)
        back = read_jelly(spark, out)
        assert back.where(back.g_value.isNotNull()).count() == 15


def test_read_jelly_stream_matches_batch(spark, tmp_path):
    """Structured Streaming .jelly source (availableNow drain) returns the
    same statements as the batch reader."""
    from pyjelly_spark.sources.jelly_io import (
        read_jelly,
        read_jelly_stream,
        write_jelly,
    )

    df = _grouped_statements_df(spark)
    out = str(tmp_path / "stream_src")
    write_jelly(df, out, resume=False)

    q = (
        read_jelly_stream(spark, out)
        .writeStream.format("memory")
        .queryName("jelly_stream_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = spark.table("jelly_stream_sink")
    batch = read_jelly(spark, out)
    assert streamed.count() == batch.count() == 15
    key_cols = ["s_value", "p_value", "o_value", "g_value"]
    assert sorted(map(tuple, streamed.select(*key_cols).collect())) == sorted(
        map(tuple, batch.select(*key_cols).collect())
    )


def test_non_delimited_distributed_write(spark, tmp_path):
    """delimited=False -> exactly one bare frame per partition stream
    (the distributed write_single); the sniffing reader handles it
    transparently, and overflowing one frame raises."""
    from pyjelly_spark.jelly.ioutils import sniff_file
    from pyjelly_spark.sources.jelly_io import read_jelly, write_jelly

    df = _grouped_statements_df(spark).drop(
        "g_kind", "g_value", "g_lang", "g_datatype"
    )
    out = str(tmp_path / "single_frame")
    options = jc.StreamOptions(delimited=False)
    manifest = write_jelly(df, out, options=options, resume=False)
    assert int(manifest["n_statements"].sum()) == 15
    assert set(manifest["n_frames"]) == {1}
    for f in manifest["file"]:
        assert sniff_file(f) is False  # non-delimited on disk
    back = read_jelly(spark, out)
    assert back.count() == 15
    assert back.select("frame_id").distinct().collect()[0][0] == 0

    with pytest.raises(jc.JellyError, match="one frame per graph|ONE frame"):
        write_jelly(
            _grouped_statements_df(spark),
            str(tmp_path / "bad_nd"),
            options=jc.StreamOptions(
                physical_type=jc.PHYSICAL_GRAPHS,
                logical_type=jc.LOGICAL_NAMED_GRAPHS,
                delimited=False,
            ),
            grouped_by_graph=True,
            resume=False,
        )


def test_transcode_quads_to_graphs(spark, tmp_path):
    """The reference's QUADS -> GRAPHS conversion (split_to_graphs use
    case) as one distributed job: flat QUADS stream in, frame-per-graph
    GRAPHS stream out, statements preserved."""
    from pyjelly_spark.sources.jelly_io import read_jelly, transcode, write_jelly

    df = _grouped_statements_df(spark)
    flat_quads = str(tmp_path / "flat_quads")
    write_jelly(
        df,
        flat_quads,
        options=jc.StreamOptions(
            physical_type=jc.PHYSICAL_QUADS, logical_type=jc.LOGICAL_FLAT_QUADS
        ),
        resume=False,
    )

    grouped_out = str(tmp_path / "graphs_out")
    manifest = transcode(
        spark, flat_quads, grouped_out, grouped_by_graph=True
    )
    assert int(manifest["n_statements"].sum()) == 15

    decoded = read_jelly(spark, grouped_out).collect()
    frames_per_graph = {}
    for r in decoded:
        frames_per_graph.setdefault(r["g_value"], set()).add(
            (r["source_file"], r["frame_id"])
        )
    assert len(decoded) == 15
    assert all(len(f) == 1 for f in frames_per_graph.values())


def test_transcode_nt_to_jelly(spark, tmp_path):
    from pyjelly_spark.sources.jelly_io import read_jelly, transcode

    nt = "/root/reference/tests/e2e_test_cases/triples_rdf_1_1/weather.nt"
    if not os.path.exists(nt):
        pytest.skip(f"{nt} not available")
    out = str(tmp_path / "from_nt")
    manifest = transcode(spark, nt, out)
    assert int(manifest["n_statements"].sum()) == read_jelly(spark, out).count() > 0


def test_chunked_decode_over_boundary(spark, tmp_path):
    """A single stream bigger than the 64k-row Arrow chunk decodes in
    multiple bounded chunks with identical content (worker memory stays
    bounded for multi-GB files)."""
    from pyspark.sql import functions as F

    from pyjelly_spark.sources.jelly_io import (
        _DECODE_CHUNK_ROWS,
        read_jelly,
        write_jelly,
    )

    n = _DECODE_CHUNK_ROWS + 5_000
    df = (
        spark.range(n)
        .select(
            F.lit("iri").alias("s_kind"),
            F.concat(F.lit("http://ex.org/s"), F.col("id")).alias("s_value"),
            F.lit(None).cast("string").alias("s_lang"),
            F.lit(None).cast("string").alias("s_datatype"),
            F.lit("iri").alias("p_kind"),
            F.lit("http://ex.org/p").alias("p_value"),
            F.lit(None).cast("string").alias("p_lang"),
            F.lit(None).cast("string").alias("p_datatype"),
            F.lit("iri").alias("o_kind"),
            F.concat(F.lit("http://ex.org/o"), (F.col("id") % 97)).alias("o_value"),
            F.lit(None).cast("string").alias("o_lang"),
            F.lit(None).cast("string").alias("o_datatype"),
        )
        .coalesce(1)  # ONE partition -> one stream over the boundary
    )
    out = str(tmp_path / "big_stream")
    manifest = write_jelly(df, out, resume=False)
    assert int(manifest["n_statements"].sum()) == n
    back = read_jelly(spark, out)
    assert back.count() == n
    # stmt_idx is contiguous across the chunk flush boundary
    agg = back.agg(
        F.min("stmt_idx").alias("mn"),
        F.max("stmt_idx").alias("mx"),
        F.countDistinct("stmt_idx").alias("nd"),
    ).collect()[0]
    assert (agg["mn"], agg["mx"], agg["nd"]) == (0, n - 1, n)


def test_grouped_write_resume_byte_identical(spark, tmp_path):
    """Resume contract holds in grouped mode: a deleted partition is the
    only one rewritten, and the deterministic replan reproduces its
    bytes exactly."""
    import os

    from pyjelly_spark.sources.jelly_io import write_jelly

    df = _grouped_statements_df(spark)
    out = str(tmp_path / "grouped_resume")
    m1 = write_jelly(df, out, grouped_by_graph=True, resume=True)
    parts = sorted(f for f in os.listdir(out) if f.endswith(".jelly"))
    victim = os.path.join(out, parts[0])
    victim_id = int(parts[0].split("-")[1].split(".")[0])
    original = open(victim, "rb").read()
    os.remove(victim)

    m2 = write_jelly(df, out, grouped_by_graph=True, resume=True)
    rewritten = set(m2[m2["skipped"] == 0]["partition_id"])
    skipped = set(m2[m2["skipped"] == 1]["partition_id"])
    assert rewritten == {victim_id}
    assert skipped == set(m1["partition_id"]) - {victim_id}
    assert open(victim, "rb").read() == original


def test_write_jelly_stream_roundtrip_and_idempotent_replay(spark, tmp_path):
    """Streaming sink: rate-limited availableNow drain lands every
    statement across batch=<id>/ dirs; read_jelly over the root equals
    the input; replaying a completed batch id is a no-op (exactly-once
    on foreachBatch's at-least-once contract)."""
    import glob as _glob

    from pyjelly_spark.sources.jelly_io import (
        read_jelly,
        write_jelly,
        write_jelly_stream,
    )

    df = _grouped_statements_df(spark)
    src = str(tmp_path / "src")
    write_jelly(df, src, resume=False)

    from pyjelly_spark.sources.jelly_io import read_jelly_stream

    out = str(tmp_path / "sunk")
    ckpt = str(tmp_path / "ckpt")
    q = write_jelly_stream(
        read_jelly_stream(spark, src), out, ckpt,
        query_name="jelly_sink_rt",
    )
    q.awaitTermination()
    back = read_jelly(spark, out)
    assert back.count() == 15
    key_cols = ["s_value", "p_value", "o_value", "g_value"]
    assert sorted(map(tuple, back.select(*key_cols).collect())) == sorted(
        map(tuple, read_jelly(spark, src).select(*key_cols).collect())
    )

    # replay: same checkpoint, no new input -> no new files; and a
    # direct re-invocation of a completed batch is skipped via _SUCCESS
    files_before = sorted(_glob.glob(out + "/batch=*/*.jelly"))
    q2 = write_jelly_stream(
        read_jelly_stream(spark, src), out, ckpt,
        query_name="jelly_sink_rt2",
    )
    q2.awaitTermination()
    assert sorted(_glob.glob(out + "/batch=*/*.jelly")) == files_before
    succ = _glob.glob(out + "/batch=*/_SUCCESS")
    assert succ, "batch _SUCCESS markers present"
