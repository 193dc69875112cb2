"""The ``jelly`` Spark format (Python Data Source API).

The DSv2 surface must agree with the mapInArrow reader/writer
(`sources/jelly_io.py`) — same flat schema, same wire. Reference
behavior analogue: format registration in
/root/reference/pyjelly/integrations/rdflib/__init__.py.
"""

import os

import pytest

from pyjelly_spark.sources.jelly_datasource import register_jelly
from pyjelly_spark.sources.jelly_io import read_jelly, write_jelly

WEATHER_NT = "/root/reference/tests/e2e_test_cases/triples_rdf_1_1/weather.nt"
WEATHER_NQ = "/root/reference/tests/e2e_test_cases/quads_rdf_1_1/weather-quads.nq"

requires_corpora = pytest.mark.skipif(
    not os.path.exists(WEATHER_NT), reason="reference e2e corpora not available"
)

STMT_COLS_DROP = ("source_file", "frame_id", "stmt_idx")


@pytest.fixture(scope="module")
def registered(spark):
    register_jelly(spark)
    return spark


def _stmts(df):
    cols = [c for c in df.columns if c not in STMT_COLS_DROP]
    return sorted(map(tuple, df.select(*cols).collect()))


@requires_corpora
def test_write_read_roundtrip_triples(registered, tmp_path):
    from pyjelly_spark.sources.nt_source import read_nt

    spark = registered
    nt = read_nt(spark, WEATHER_NT)
    out = str(tmp_path / "ds_triples")
    nt.repartition(2).write.format("jelly").option("frame_rows", 100).mode(
        "append"
    ).save(out)
    back = spark.read.format("jelly").load(out)
    assert back.count() == nt.count()
    # two input partitions -> two part files
    assert back.select("source_file").distinct().count() == 2
    # byte/value parity with the mapInArrow reader
    assert _stmts(back) == _stmts(read_jelly(spark, out))


@requires_corpora
def test_datasource_reader_matches_legacy_on_legacy_output(
    registered, tmp_path
):
    """Format reader over files the mapInArrow writer produced."""
    from pyjelly_spark.jelly import constants as jc
    from pyjelly_spark.sources.nt_source import read_nt

    spark = registered
    nt = read_nt(spark, WEATHER_NT)
    out = str(tmp_path / "legacy_out")
    write_jelly(nt.repartition(2), out, jc.StreamOptions())
    back = spark.read.format("jelly").load(out)
    assert _stmts(back) == _stmts(read_jelly(spark, out))


@requires_corpora
def test_quads_physical(registered, tmp_path):
    from pyjelly_spark.sources.nt_source import read_nt

    spark = registered
    nq = read_nt(spark, WEATHER_NQ)
    out = str(tmp_path / "ds_quads")
    nq.coalesce(1).write.format("jelly").option("physical", "quads").mode(
        "append"
    ).save(out)
    back = spark.read.format("jelly").load(out)
    assert back.count() == nq.count()
    # graph terms survive: same distinct graph values as the input
    got = {r[0] for r in back.select("g_value").distinct().collect()}
    want = {r[0] for r in nq.select("g_value").distinct().collect()}
    assert got == want


@requires_corpora
def test_grouped_by_graph_frames(registered, tmp_path):
    """grouped_by_graph: one frame per graph run; frame_id recovers groups."""
    from pyspark.sql import functions as F

    from pyjelly_spark.sources.nt_source import read_nt

    spark = registered
    nq = read_nt(spark, WEATHER_NQ)
    out = str(tmp_path / "ds_grouped")
    (
        nq.coalesce(1)
        .sortWithinPartitions("g_value")
        .write.format("jelly")
        .option("physical", "quads")
        .option("grouped_by_graph", "true")
        .mode("append")
        .save(out)
    )
    back = spark.read.format("jelly").load(out)
    # each frame holds exactly one graph
    per_frame = back.groupBy("source_file", "frame_id").agg(
        F.countDistinct("g_value").alias("n_graphs")
    )
    assert per_frame.filter("n_graphs > 1").count() == 0
    n_graphs = nq.select("g_value").distinct().count()
    assert per_frame.count() == n_graphs


@requires_corpora
def test_overwrite_mode(registered, tmp_path):
    from pyjelly_spark.sources.nt_source import read_nt

    spark = registered
    nt = read_nt(spark, WEATHER_NT)
    out = str(tmp_path / "ds_overwrite")
    nt.coalesce(1).write.format("jelly").mode("append").save(out)
    nt.limit(7).coalesce(1).write.format("jelly").mode("overwrite").save(out)
    assert spark.read.format("jelly").load(out).count() == 7


@requires_corpora
def test_commit_manifest(registered, tmp_path):
    import json

    from pyjelly_spark.sources.nt_source import read_nt

    spark = registered
    nt = read_nt(spark, WEATHER_NT)
    out = str(tmp_path / "ds_manifest")
    nt.repartition(3).write.format("jelly").mode("append").save(out)
    with open(os.path.join(out, "_manifest", "datasource.json")) as handle:
        entries = json.load(handle)
    assert sum(e["n_statements"] for e in entries) == nt.count()
    assert all(e["file"].endswith(".jelly") for e in entries)


@requires_corpora
def test_stream_writer_sink(registered, tmp_path):
    """writeStream.format("jelly"): microbatch partitions -> part files
    + per-batch manifest; readable by every jelly reader."""
    import json

    from pyjelly_spark.sources.nt_source import read_nt

    spark = registered
    nt = read_nt(spark, WEATHER_NT)
    stage = str(tmp_path / "stage")
    nt.write.parquet(stage)
    sink = str(tmp_path / "sink")
    query = (
        spark.readStream.schema(nt.schema)
        .parquet(stage)
        .writeStream.format("jelly")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)
    assert read_jelly(spark, sink).count() == nt.count()
    manifests = sorted(os.listdir(os.path.join(sink, "_manifest")))
    assert manifests == ["batch-0.json"]
    with open(os.path.join(sink, "_manifest", manifests[0])) as handle:
        entries = json.load(handle)
    assert sum(e["n_statements"] for e in entries) == nt.count()


@requires_corpora
def test_filter_pushdown_prunes_partitions(registered, tmp_path):
    """source_file predicates prune file partitions before any decode;
    results are identical to the unpruned scan (Spark re-applies the
    filter post-scan, so this is a fast path, never a semantics path)."""
    from pyspark.sql import functions as F

    from pyjelly_spark.sources.nt_source import read_nt

    spark = registered
    nt = read_nt(spark, WEATHER_NT)
    out = str(tmp_path / "ds_pushdown")
    nt.repartition(4).write.format("jelly").mode("append").save(out)
    back = spark.read.format("jelly").load(out)
    files = sorted(r[0] for r in back.select("source_file").distinct().collect())
    assert len(files) == 4
    one = spark.read.format("jelly").load(out).filter(
        F.col("source_file") == files[0]
    )
    expected = [r for r in back.collect() if r.source_file == files[0]]
    assert one.count() == len(expected) > 0
    # startswith over the dir keeps everything
    pref = spark.read.format("jelly").load(out).filter(
        F.col("source_file").startswith(out)
    )
    assert pref.count() == back.count()


@requires_corpora
def test_bad_options_fail_fast(registered, tmp_path):
    from pyjelly_spark.sources.nt_source import read_nt

    spark = registered
    nt = read_nt(spark, WEATHER_NT)
    out = str(tmp_path / "ds_bad")
    with pytest.raises(Exception, match="physical|KeyError|hexagons"):
        (
            nt.coalesce(1)
            .write.format("jelly")
            .option("physical", "hexagons")
            .mode("append")
            .save(out)
        )
    # a lookup capacity below the protocol minimum is a JellyError
    with pytest.raises(Exception, match="at least 8|lookup"):
        (
            nt.coalesce(1)
            .write.format("jelly")
            .option("names", "2")
            .mode("append")
            .save(out)
        )


def test_stream_reader_offset_delta(tmp_path):
    """Offset algebra: only files new since the start offset are planned."""
    from pyjelly_spark.sources.jelly_datasource import JellyStreamReader

    (tmp_path / "a.jelly").write_bytes(b"")
    (tmp_path / "b.jelly").write_bytes(b"")
    reader = JellyStreamReader({"path": str(tmp_path)})
    assert reader.initialOffset() == {"files": []}
    first = reader.latestOffset()
    assert [os.path.basename(p) for p in first["files"]] == [
        "a.jelly",
        "b.jelly",
    ]
    (tmp_path / "c.jelly").write_bytes(b"")
    second = reader.latestOffset()
    delta = reader.partitions(first, second)
    assert [os.path.basename(p.path) for p in delta] == ["c.jelly"]
    assert reader.partitions(second, second) == []
    # cold start replays everything
    assert len(reader.partitions(reader.initialOffset(), second)) == 3


@requires_corpora
def test_stream_reader_tails_directory(registered, tmp_path):
    """readStream.format("jelly"): a checkpointed restart decodes ONLY
    the files that appeared since the last committed offset."""
    from pyjelly_spark.sources.nt_source import read_nt

    spark = registered
    nt = read_nt(spark, WEATHER_NT)
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        query = (
            spark.readStream.format("jelly")
            .load(src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination(120)

    nt.coalesce(1).write.format("jelly").mode("append").save(src)
    drain()
    assert _stmts(spark.read.parquet(sink)) == _stmts(read_jelly(spark, src))
    first_files = {
        r.source_file
        for r in spark.read.parquet(sink).select("source_file").distinct().collect()
    }
    assert len(first_files) == 1

    # a second stream file lands; the restarted query picks up only it
    nt.limit(40).coalesce(1).write.format("jelly").mode("append").save(src)
    drain()
    got = spark.read.parquet(sink)
    assert _stmts(got) == _stmts(read_jelly(spark, src))
    assert got.select("source_file").distinct().count() == 2


@requires_corpora
def test_no_pushdown_datasource_same_results(registered, tmp_path):
    """The fallback JellyDataSource (base reader, no pushFilters
    override) returns identical rows with source_file predicates —
    Spark applies them post-scan. This is the variant register_jelly
    registers when the filterPushdown conf cannot be enabled."""
    from pyspark.sql import functions as F

    from pyjelly_spark.sources.jelly_datasource import JellyDataSource
    from pyjelly_spark.sources.nt_source import read_nt

    spark = registered
    nt = read_nt(spark, WEATHER_NT)
    out = str(tmp_path / "ds_nopush")
    nt.repartition(3).write.format("jelly").mode("append").save(out)
    with_push = spark.read.format("jelly").load(out)
    files = sorted(
        r[0] for r in with_push.select("source_file").distinct().collect()
    )
    expected = sorted(
        map(tuple, with_push.filter(F.col("source_file") == files[0]).collect())
    )

    spark.dataSource.register(JellyDataSource)  # base: no pushFilters
    try:
        base = (
            spark.read.format("jelly")
            .load(out)
            .filter(F.col("source_file") == files[0])
        )
        assert sorted(map(tuple, base.collect())) == expected
    finally:
        register_jelly(spark)  # restore the pushdown variant


def test_register_jelly_pushdown_flag(registered, tmp_path):
    """register_jelly(pushdown=False) registers the plain reader and
    leaves the filterPushdown conf untouched — the escape hatch for
    sessions that must keep that conf false (r3 advisory). Reads still
    work with the conf off. pushdown=None restores the pruning
    variant."""
    spark = registered
    from pyjelly_spark.jelly.encoder import StreamEncoder, delimit
    from pyjelly_spark.jelly import constants as c

    enc = StreamEncoder(
        c.StreamOptions(
            physical_type=c.PHYSICAL_TRIPLES,
            logical_type=c.LOGICAL_FLAT_TRIPLES,
        )
    )
    enc.add_triple(("iri", "http://e/s"), ("iri", "http://e/p"), ("iri", "http://e/o"))
    frame = enc.take_frame()
    src = tmp_path / "one.jelly"
    src.write_bytes(delimit(frame))

    conf_key = "spark.sql.python.filterPushdown.enabled"
    try:
        spark.conf.set(conf_key, "false")
        register_jelly(spark, pushdown=False)
        assert spark.conf.get(conf_key) == "false"  # untouched
        assert spark.read.format("jelly").load(str(src)).count() == 1
    finally:
        register_jelly(spark)  # restore default (re-enables conf)
        assert spark.conf.get(conf_key) == "true"


_FLAT_DDL = ", ".join(
    f"{slot}_{part} string"
    for slot in "spog"
    for part in ("kind", "value", "lang", "datatype")
)
_SPO_COLS = [
    f"{slot}_{part}" for slot in "spo" for part in ("kind", "value", "lang", "datatype")
]


def _synthetic_statements(spark, n=60, n_graphs=3):
    """A flat statements frame in graph-major order: IRIs, language and
    datatype literals, blank nodes, a default-graph run, and repeated
    subjects/predicates (so repeated-term suppression is exercised)."""
    ex = "http://example.org/"
    rows = []
    for i in range(n):
        s = ("iri", f"{ex}s{i % 7}", None, None)
        p = ("iri", f"{ex}p{i % 3}", None, None)
        o = [
            ("lit", f"v{i}", "en", ""),
            ("lit", str(i), "", "http://www.w3.org/2001/XMLSchema#integer"),
            ("bnode", f"b{i}", None, None),
            ("iri", f"{ex}o{i}", None, None),
        ][i % 4]
        graph = i * n_graphs // n
        g = ("iri", f"{ex}g{graph}", None, None) if graph else ("dg", None, None, None)
        rows.append(s + p + o + g)
    return spark.createDataFrame(rows, _FLAT_DDL)


def _decoded(spark, path):
    """Decoded statements of one-file output in (frame_id, stmt_idx) order."""
    df = read_jelly(spark, path)
    assert df.select("source_file").distinct().count() == 1
    return [tuple(r)[1:] for r in df.orderBy("frame_id", "stmt_idx").collect()]


@pytest.mark.parametrize("mode", ["triples", "quads", "graphs"])
def test_datasource_writer_matches_write_jelly(registered, tmp_path, mode):
    """df.write.format("jelly") and write_jelly encode through the same
    partition writer: the same statements, frames and statement order,
    in triples, flat quads and grouped GRAPHS modes."""
    from pyjelly_spark.jelly import constants as jc

    spark = registered
    stmts = _synthetic_statements(spark)
    if mode == "triples":
        stmts = stmts.select(*_SPO_COLS)
    options = jc.StreamOptions(
        physical_type={"triples": 1, "quads": 2, "graphs": 3}[mode],
        logical_type={
            "triples": jc.LOGICAL_FLAT_TRIPLES,
            "quads": jc.LOGICAL_FLAT_QUADS,
            "graphs": jc.LOGICAL_DATASETS,
        }[mode],
        frame_rows=16,
    )
    grouped = mode == "graphs"
    ds_out = str(tmp_path / "ds")
    (
        stmts.coalesce(1)
        .write.format("jelly")
        .option("physical", mode)
        .option("grouped_by_graph", str(grouped).lower())
        .option("frame_rows", 16)
        .mode("append")
        .save(ds_out)
    )
    fn_out = str(tmp_path / "fn")
    write_jelly(stmts.coalesce(1), fn_out, options, grouped_by_graph=grouped)

    got = _decoded(spark, ds_out)
    assert got == _decoded(spark, fn_out)
    frame_ids = [row[0] for row in got]
    want = [tuple(r) for r in stmts.collect()]
    if mode == "triples":
        want = [row + (None,) * 4 for row in want]
    if grouped:  # one frame per graph run
        assert frame_ids == [i * 3 // 60 for i in range(60)]
    else:  # bounded frames of 16 stream rows
        assert frame_ids == sorted(frame_ids) and frame_ids[-1] >= 3
    assert [row[2:] for row in got] == want


def test_empty_partitions_write_no_file(registered, tmp_path):
    """A partition with no statements leaves neither a .jelly file nor a
    manifest entry, in both sinks, and strict flat reads accept the
    output (a 0-byte stream has no options row)."""
    import json

    spark = registered
    stmts = _synthetic_statements(spark, n=3).select(*_SPO_COLS).repartition(8)
    ds_out = str(tmp_path / "ds")
    stmts.write.format("jelly").mode("append").save(ds_out)
    files = sorted(name for name in os.listdir(ds_out) if name.endswith(".jelly"))
    with open(os.path.join(ds_out, "_manifest", "datasource.json")) as handle:
        entries = json.load(handle)
    assert 1 <= len(files) <= 3
    assert sorted(os.path.basename(e["file"]) for e in entries) == files
    assert sum(e["n_statements"] for e in entries) == 3
    assert all(os.path.getsize(os.path.join(ds_out, name)) > 0 for name in files)
    assert not [name for name in os.listdir(ds_out) if name.endswith(".inprogress")]
    assert read_jelly(spark, ds_out, logical_type_strict="flat").count() == 3

    fn_out = str(tmp_path / "fn")
    manifest = write_jelly(stmts, fn_out)
    files = sorted(name for name in os.listdir(fn_out) if name.endswith(".jelly"))
    assert 1 <= len(files) <= 3
    assert sorted(os.path.basename(f) for f in manifest["file"]) == files
    assert read_jelly(spark, fn_out, logical_type_strict="flat").count() == 3


def test_sink_checks_hold_for_every_sink(registered, tmp_path):
    """Grouped framing needs delimited frames and quads need g_* columns,
    whichever sink writes: the data source fails before any task runs
    and leaves no stream behind."""
    from pyjelly_spark.jelly import constants as jc
    from pyjelly_spark.jelly.grouped import grouped_options

    spark = registered
    quads = _synthetic_statements(spark).coalesce(1)
    triples = quads.select(*_SPO_COLS)
    ds_out = str(tmp_path / "ds")
    with pytest.raises(Exception, match="JellyError: non-delimited"):
        (
            quads.write.format("jelly")
            .option("physical", "graphs")
            .option("grouped_by_graph", "true")
            .option("delimited", "false")
            .mode("append")
            .save(ds_out)
        )
    with pytest.raises(Exception, match="JellyError: .*g_kind"):
        (
            triples.write.format("jelly")
            .option("physical", "quads")
            .mode("append")
            .save(ds_out)
        )
    assert not os.path.exists(ds_out) or not [
        name for name in os.listdir(ds_out) if name.endswith(".jelly")
    ]
    with pytest.raises(jc.JellyError, match="non-delimited"):
        write_jelly(
            quads,
            str(tmp_path / "fn"),
            grouped_options(jc.PHYSICAL_GRAPHS, delimited=False),
            grouped_by_graph=True,
        )
    with pytest.raises(jc.JellyError, match="g_kind"):
        write_jelly(
            triples,
            str(tmp_path / "fn"),
            jc.StreamOptions(
                physical_type=jc.PHYSICAL_QUADS,
                logical_type=jc.LOGICAL_FLAT_QUADS,
            ),
        )

