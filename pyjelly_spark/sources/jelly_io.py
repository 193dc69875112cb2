"""Spark <-> Jelly boundary: distributed .jelly writer and reader.

Write side: one Spark partition == one independent Jelly stream (its own
options row + lookup tables), mirroring one pyjelly ``Stream`` instance
per output (/root/reference/pyjelly/serialize/streams.py:48-67). The
encoder is inherently sequential per stream, so it lives inside a single
``mapInArrow`` pass — the sanctioned escape hatch — while everything
upstream stays declarative. Frames are written incrementally (constant
memory per partition, like the reference's bounded flows). One function,
:func:`write_partition`, encodes a partition's Arrow batches for every
sink: :func:`write_jelly` and the ``jelly`` data source's writers.

Two framing modes:
- flat (default): bounded frames of ``frame_rows`` stream rows;
- ``grouped_by_graph``: one frame per consecutive same-graph run — the
  distributed analogue of the reference's grouped serialization
  (``split_to_graphs`` + frame-per-graph flows,
  /root/reference/pyjelly/integrations/generic/serialize.py:234-330).
  The caller owns ordering: sortWithinPartitions on the graph key makes
  runs == graphs.

Each partition also emits a manifest row (statement/frame/byte counts,
stream sha256, repo range) — the per-partition lineage that makes the
job checkpoint-resumable: a rerun skips partitions whose manifest entry
exists and whose file sha still matches.

Read side: one listing of .jelly files (paths and sizes) is packed into
size-balanced read tasks on the driver; each file decodes independently
(streams are self-contained by construction), walked frame by frame
from an open file, and yields bounded Arrow chunks (worker memory is
one frame plus one chunk, for multi-GB streams too). Every statement carries its ``frame_id``, so grouped streams
are recovered by grouping on (source_file, frame_id) — the distributed
analogue of ``parse_jelly_grouped`` (one group per frame,
/root/reference/pyjelly/integrations/generic/parse.py:230-317).

All file I/O goes through ``pyarrow.fs`` resolved from the path's URI
scheme, so the same code runs against local disk (bare paths or
``file://``), HDFS, or object stores on a real cluster — no executor
assumes the driver's filesystem.
"""

from __future__ import annotations

import hashlib
import heapq
import json
import posixpath
import re
from typing import Dict, Iterator, List, Optional, Sequence, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pyjelly_spark.jelly import constants as jc
from pyjelly_spark.jelly.decoder import StreamDecoder, split_frame
from pyjelly_spark.jelly.encoder import StreamEncoder, delimit
from pyjelly_spark.jelly.grouped import grouped_options
from pyjelly_spark.jelly.ioutils import read_frames, read_segments

# ---------------------------------------------------------------------------
# Filesystem abstraction (cluster-portable I/O)
# ---------------------------------------------------------------------------


def _fs_for(path: str):
    """Resolve a path or URI to (pyarrow FileSystem, fs-local path).

    Bare paths map to the local filesystem; ``file://``, ``hdfs://``,
    ``s3://`` etc. resolve via ``pyarrow.fs.FileSystem.from_uri`` — the
    executor-side code never touches ``open()``/``os`` directly, so it
    works when executors do not share the driver's disk.
    """
    from pyarrow import fs as pafs

    if "://" in path:
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), path


def _fs_exists(filesystem, path: str) -> bool:
    from pyarrow import fs as pafs

    return filesystem.get_file_info(path).type != pafs.FileType.NotFound


def _fs_isdir(filesystem, path: str) -> bool:
    from pyarrow import fs as pafs

    return filesystem.get_file_info(path).type == pafs.FileType.Directory


def _fs_listdir(filesystem, path: str) -> List[str]:
    from pyarrow import fs as pafs

    if not _fs_isdir(filesystem, path):
        return []
    return [
        info.path for info in filesystem.get_file_info(pafs.FileSelector(path))
    ]


def _fs_open(path: str):
    """Open a path or URI for ranged reads (a pyarrow RandomAccessFile)."""
    filesystem, fs_path = _fs_for(path)
    return filesystem.open_input_file(fs_path)


def _fs_write(filesystem, path: str, data: bytes) -> None:
    with filesystem.open_output_stream(path) as handle:
        handle.write(data)


MANIFEST_SCHEMA = StructType(
    [
        StructField("partition_id", IntegerType(), False),
        StructField("file", StringType(), False),
        StructField("n_statements", LongType(), False),
        StructField("n_frames", LongType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("stream_sha256", StringType(), False),
        StructField("repo_min", StringType(), True),
        StructField("repo_max", StringType(), True),
        StructField("skipped", IntegerType(), False),
    ]
)

_TERM_COLS = ("kind", "value", "lang", "datatype")


def flatten_terms(df: DataFrame, slots: Tuple[str, ...] = ("s", "p", "o")) -> DataFrame:
    """Term structs -> flat string columns (fast Arrow string arrays)."""
    cols = [c for c in df.columns if c not in slots]
    flat = [F.col(c) for c in cols]
    for slot in slots:
        for part in _TERM_COLS:
            flat.append(F.col(f"{slot}.{part}").alias(f"{slot}_{part}"))
    return df.select(*flat)


def _terms_from_arrays(kinds, values, langs, datatypes) -> List[tuple]:
    """Vector-ish tuple construction for one slot of one Arrow batch
    (object ndarrays, nulls as None).

    RDF-star convention: kind ``qt`` carries the quoted triple as its
    N-Triples serialization (``<< <s> <p> <o> >>``, nesting allowed) in
    the value column — parsed back to a term tuple here.
    """
    from pyjelly_spark.jelly.nt import parse_term

    # Homogeneous-slot fast paths: predicates are always IRIs and
    # subjects almost always are, so one vectorized kind check replaces
    # the per-row branch ladder for most batches.
    if len(kinds):
        first = kinds[0]
        if first == "iri" and (kinds == "iri").all():
            return [("iri", v) for v in values]
        if first == "lit" and (kinds == "lit").all():
            return [
                ("lit", v, lg or "", dt or "")
                for v, lg, dt in zip(values, langs, datatypes)
            ]
    out = []
    append = out.append
    for kind, value, lang, datatype in zip(kinds, values, langs, datatypes):
        if kind == "iri":
            append(("iri", value))
        elif kind == "lit":
            append(("lit", value, lang or "", datatype or ""))
        elif kind == "bnode":
            append(("bnode", value))
        elif kind == "qt":
            append(parse_term(value))
        else:
            append(("dg",))
    return out


def manifest_path(out_dir: str) -> str:
    return posixpath.join(out_dir, "_manifest")


def load_manifest(out_dir: str) -> dict:
    """partition_id -> manifest dict for all completed partitions."""
    filesystem, base = _fs_for(out_dir)
    entries = {}
    for path in _fs_listdir(filesystem, posixpath.join(base, "_manifest")):
        if path.endswith(".json"):
            with filesystem.open_input_stream(path) as handle:
                entry = json.loads(handle.read())
            entries[entry["partition_id"]] = entry
    return entries


def _completed_partition_ids(out_dir: str) -> set:
    """Partitions safely resumable: manifest present and file sha matches."""
    filesystem, _base = _fs_for(out_dir)
    done = set()
    for pid, entry in load_manifest(out_dir).items():
        path = entry["file"]
        if not _fs_exists(filesystem, path):
            continue
        digest = hashlib.sha256()
        with filesystem.open_input_stream(path) as handle:
            for chunk in iter(lambda: handle.read(1 << 20), b""):
                digest.update(chunk)
        if digest.hexdigest() == entry["stream_sha256"]:
            done.add(pid)
    return done


def guess_options(
    flat_statements: DataFrame, grouped_by_graph: bool = False
) -> jc.StreamOptions:
    """Arity-based option guessing, mirroring the reference's
    ``guess_options`` (/root/reference/pyjelly/integrations/generic/serialize.py:266-277):
    the SINK SHAPE decides — a statements frame carrying graph-slot
    columns gets a quads stream (flat: PHYSICAL_QUADS/FLAT_QUADS; grouped:
    PHYSICAL_GRAPHS/NAMED_GRAPHS), one without gets a triples stream.
    Content is not inspected (same as the reference, which keys on the
    sink type, not the data)."""
    has_graph_slot = "g_kind" in flat_statements.columns
    if grouped_by_graph:
        if not has_graph_slot:
            raise jc.JellyError(
                "grouped_by_graph guessing needs g_* graph-slot columns"
            )
        return grouped_options(jc.PHYSICAL_GRAPHS)
    if has_graph_slot:
        return jc.StreamOptions(
            physical_type=jc.PHYSICAL_QUADS, logical_type=jc.LOGICAL_FLAT_QUADS
        )
    return jc.StreamOptions()


def _check_sink(
    options: jc.StreamOptions, grouped_by_graph: bool, columns
) -> None:
    """The checks every Jelly sink makes before a task runs: the flat
    term columns :func:`write_partition` reads are present (``g_*`` too
    for quads and grouped framing), and grouped framing has a grouped
    logical type and delimited frames."""
    slots = ["s", "p", "o"]
    if grouped_by_graph or options.physical_type == jc.PHYSICAL_QUADS:
        slots.append("g")
    missing = [
        f"{slot}_{part}"
        for slot in slots
        for part in _TERM_COLS
        if f"{slot}_{part}" not in columns
    ]
    if missing:
        raise jc.JellyError(f"jelly write needs flat term columns; missing {missing}")
    if not grouped_by_graph:
        return
    if not options.delimited:
        raise jc.JellyError(
            "non-delimited streams hold exactly ONE frame "
            "(the reference's pyjelly/serialize/flows.py ManualFrameFlow); "
            "grouped_by_graph emits one frame per graph"
        )
    if options.logical_type % 10 in (
        jc.LOGICAL_UNSPECIFIED, jc.LOGICAL_FLAT_TRIPLES, jc.LOGICAL_FLAT_QUADS
    ):
        raise jc.JellyError(
            "grouped_by_graph needs a grouped logical type (GRAPHS/DATASETS "
            "family) — flat logical types use bounded framing, which would "
            "split graphs across frames"
        )


def write_partition(
    batches: Iterator,
    options: jc.StreamOptions,
    out_dir: str,
    name: str,
    grouped_by_graph: bool = False,
    namespaces: Sequence[Tuple[str, str]] = (),
    tail_metadata: Optional[Dict[str, bytes]] = None,
) -> Optional[dict]:
    """Encode one partition's Arrow RecordBatches of flat statements
    into the Jelly stream ``out_dir/name`` — the one encode loop behind
    every sink (:func:`write_jelly` and the ``jelly`` data source).

    The stream is written as ``name + ".inprogress"`` and renamed once
    complete, so readers (which list ``*.jelly`` only) never see a torn
    file. An empty partition writes no file and returns None; otherwise
    the manifest counters come back: file, n_statements, n_frames,
    n_bytes, stream_sha256, repo_min, repo_max. ``namespaces`` (label,
    IRI) are declared at the head of the stream and ``tail_metadata``
    rides on its last frame. Callers run :func:`_check_sink` first.

    ``grouped_by_graph`` emits one frame per consecutive same-graph run
    (the distributed ``split_to_graphs``): physical GRAPHS brackets each
    run with graph_start/end rows, physical QUADS re-attaches the graph
    term per statement, physical TRIPLES drops it (logical grouping
    only).
    """
    import pyarrow.compute as pc

    filesystem, base = _fs_for(out_dir)
    path = posixpath.join(base, name)
    tmp_path = path + ".inprogress"
    encoder = StreamEncoder(options)
    phys = options.physical_type
    delimited = options.delimited
    needs_graph = grouped_by_graph or phys == jc.PHYSICAL_QUADS
    add_triple = encoder.add_triple
    add_quad = encoder.add_quad
    digest = hashlib.sha256()
    n_statements = n_frames = n_bytes = 0
    repo_min = repo_max = None
    open_graph: Optional[tuple] = None  # terms are tuples: None is no graph

    def slot_terms(batch, slot: str) -> List[tuple]:
        return _terms_from_arrays(
            *(
                batch.column(f"{slot}_{part}").to_numpy(zero_copy_only=False)
                for part in _TERM_COLS
            )
        )

    def emit(frame: bytes) -> None:
        nonlocal n_frames, n_bytes
        chunk = delimit(frame) if delimited else frame
        if not delimited and n_frames:
            raise jc.JellyError(
                "non-delimited partition stream produced a second "
                "frame — statements exceed one frame's worth"
            )
        sink.write(chunk)
        digest.update(chunk)
        n_frames += 1
        n_bytes += len(chunk)

    def close_group() -> None:
        nonlocal open_graph
        if open_graph is None:
            return
        if phys == jc.PHYSICAL_GRAPHS:
            encoder.end_graph()
        frame = encoder.take_frame()
        if frame is not None:
            emit(frame)
        open_graph = None

    filesystem.create_dir(base, recursive=True)
    sink = filesystem.open_output_stream(tmp_path)
    try:
        for label, iri in namespaces:
            encoder.declare_namespace(label, iri)
        for batch in batches:
            subjects = slot_terms(batch, "s")
            predicates = slot_terms(batch, "p")
            objects = slot_terms(batch, "o")
            if "repo" in batch.schema.names and batch.num_rows:
                bounds = pc.min_max(batch.column("repo")).as_py()
                if bounds["min"] is not None:
                    lo, hi = bounds["min"], bounds["max"]
                    repo_min = lo if repo_min is None else min(repo_min, lo)
                    repo_max = hi if repo_max is None else max(repo_max, hi)
            if needs_graph:
                graphs = slot_terms(batch, "g")
            if grouped_by_graph:
                for s, p, o, g in zip(subjects, predicates, objects, graphs):
                    if g != open_graph:
                        close_group()
                        if phys == jc.PHYSICAL_GRAPHS:
                            encoder.begin_graph(g)
                        open_graph = g
                    if phys == jc.PHYSICAL_QUADS:
                        add_quad(s, p, o, g)
                    else:
                        add_triple(s, p, o)
            elif phys == jc.PHYSICAL_QUADS:
                for s, p, o, g in zip(subjects, predicates, objects, graphs):
                    frame = add_quad(s, p, o, g)
                    if frame is not None:
                        emit(frame)
            else:
                for s, p, o in zip(subjects, predicates, objects):
                    frame = add_triple(s, p, o)
                    if frame is not None:
                        emit(frame)
            n_statements += len(subjects)
        close_group()
        if n_statements:
            tail = encoder.take_frame(metadata=tail_metadata)
            if tail is not None:
                emit(tail)
    finally:
        sink.close()
    if n_statements == 0:
        filesystem.delete_file(tmp_path)
        return None
    filesystem.move(tmp_path, path)
    return {
        "file": path,
        "n_statements": n_statements,
        "n_frames": n_frames,
        "n_bytes": n_bytes,
        "stream_sha256": digest.hexdigest(),
        "repo_min": repo_min,
        "repo_max": repo_max,
    }


def write_jelly(
    flat_statements: DataFrame,
    out_dir: str,
    options: Optional[jc.StreamOptions] = None,
    resume: bool = True,
    grouped_by_graph: bool = False,
    namespaces: Optional[dict] = None,
) -> pd.DataFrame:
    """Write pre-partitioned, pre-sorted flat statements as .jelly files.

    ``flat_statements`` must already carry s_/p_/o_ (and g_ for quads /
    grouped mode) flattened term columns in final statement order per
    partition (the caller owns partitioning — see
    pipeline.plan_partitions). Each non-empty partition becomes
    ``part-<id>.jelly`` through :func:`write_partition` (see there for
    ``grouped_by_graph`` framing). Returns the manifest as pandas.

    ``namespaces`` (label -> IRI) are declared once at the head of every
    partition stream (protocol v2 rows); requires options with
    ``namespace_declarations=True`` (the default options get it
    automatically when namespaces are passed).

    This is an action: it runs the job and persists manifest entries.
    """
    from pyjelly_spark.session import ship_package

    ship_package(flat_statements.sparkSession)
    if options is None:
        options = guess_options(flat_statements, grouped_by_graph)
        if namespaces:
            import dataclasses

            options = dataclasses.replace(options, namespace_declarations=True)
    if namespaces and not options.namespace_declarations:
        raise jc.JellyError(
            "namespaces require options.namespace_declarations=True (v2)"
        )
    _check_sink(options, grouped_by_graph, flat_statements.columns)
    filesystem, base = _fs_for(out_dir)
    filesystem.create_dir(posixpath.join(base, "_manifest"), recursive=True)
    skip_ids = _completed_partition_ids(out_dir) if resume else set()
    ns_items = sorted((namespaces or {}).items())
    fields = MANIFEST_SCHEMA.fieldNames()

    def write_task(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        if pid in skip_ids:
            for _ in batches:
                pass
            return
        counters = write_partition(
            batches,
            options,
            out_dir,
            f"part-{pid:05d}.jelly",
            grouped_by_graph=grouped_by_graph,
            namespaces=ns_items,
            tail_metadata={"partition": str(pid).encode("ascii")},
        )
        if counters is None:
            return
        entry = {"partition_id": pid, **counters, "skipped": 0}
        part_fs, part_base = _fs_for(out_dir)
        _fs_write(
            part_fs,
            posixpath.join(part_base, "_manifest", f"part-{pid:05d}.json"),
            json.dumps(entry).encode("utf-8"),
        )
        yield _rows_batch([tuple(entry[f] for f in fields)], MANIFEST_SCHEMA)

    manifest_df = flat_statements.mapInArrow(write_task, schema=MANIFEST_SCHEMA)
    written = manifest_df.toPandas()
    # merge with previously-completed (skipped) partitions for a full view
    previous = [
        {**entry, "skipped": 1}
        for pid, entry in load_manifest(out_dir).items()
        if pid in skip_ids
    ]
    if previous:
        written = pd.concat([written, pd.DataFrame(previous)], ignore_index=True)
    return written.sort_values("partition_id").reset_index(drop=True)


READ_SCHEMA = StructType(
    [
        StructField("source_file", StringType(), False),
        StructField("frame_id", LongType(), False),
        StructField("stmt_idx", LongType(), False),
        StructField("s_kind", StringType(), False),
        StructField("s_value", StringType(), True),
        StructField("s_lang", StringType(), True),
        StructField("s_datatype", StringType(), True),
        StructField("p_kind", StringType(), False),
        StructField("p_value", StringType(), True),
        StructField("p_lang", StringType(), True),
        StructField("p_datatype", StringType(), True),
        StructField("o_kind", StringType(), False),
        StructField("o_value", StringType(), True),
        StructField("o_lang", StringType(), True),
        StructField("o_datatype", StringType(), True),
        StructField("g_kind", StringType(), True),
        StructField("g_value", StringType(), True),
        StructField("g_lang", StringType(), True),
        StructField("g_datatype", StringType(), True),
    ]
)

_READ_COLS = [f.name for f in READ_SCHEMA]
_DECODE_CHUNK_ROWS = 65536  # bounded worker memory for multi-GB streams


def _term_cols(term: Optional[tuple]) -> Tuple[Optional[str], ...]:
    if term is None:
        return (None, None, None, None)
    kind = term[0]
    if kind == "lit":
        return ("lit", term[1], term[2], term[3])
    if kind == "dg":
        return ("dg", None, None, None)
    if kind == "qt":
        from pyjelly_spark.jelly.nt import term_to_nt

        return ("qt", term_to_nt(term), None, None)
    return (kind, term[1], None, None)


def _jelly_listing(path: str) -> List[Tuple[str, int]]:
    """Expand a path/URI to its .jelly members as (path, byte length),
    URIs kept: one recursive listing gives both, no stat per file."""
    from pyarrow import fs as pafs

    filesystem, base = _fs_for(path)
    prefix = path[: -len(base)] if path.endswith(base) and path != base else ""
    info = filesystem.get_file_info(base)
    if info.type == pafs.FileType.Directory:
        # recursive: a streaming sink lays out batch=<id>/part-*.jelly
        # subdirectories; the batch reader sees the union transparently
        return sorted(
            (prefix + member.path, member.size)
            for member in filesystem.get_file_info(
                pafs.FileSelector(base, recursive=True)
            )
            if member.type == pafs.FileType.File
            and member.path.endswith(".jelly")
        )
    # a missing path is kept: its task fails on open, as a file read does
    return [(path, info.size or 0)]


def _jelly_files(path: str) -> List[str]:
    """Expand a path/URI to the list of .jelly member paths (URIs kept)."""
    return [member for member, _size in _jelly_listing(path)]


_BYTE_UNITS = {
    unit: 1 << (10 * power)
    for power, units in enumerate(
        (("", "b"), ("k", "kb"), ("m", "mb"), ("g", "gb"), ("t", "tb"), ("p", "pb"))
    )
    for unit in units
}


def _conf_bytes(spark: SparkSession, key: str) -> int:
    """A Spark byte-size conf ("134217728b", "128m", "4MB") in bytes."""
    value = spark.conf.get(key)
    match = re.fullmatch(r"\s*(\d+)\s*([a-z]*)\s*", value.lower())
    if match is None or match.group(2) not in _BYTE_UNITS:
        raise ValueError(f"{key}={value!r} is not a byte size")
    return int(match.group(1)) * _BYTE_UNITS[match.group(2)]


def _plan_read_tasks(
    spark: SparkSession, items: List[Tuple[str, int]]
) -> List[List[str]]:
    """Pack whole files into size-balanced read tasks, by the split rule
    of Spark's file sources (``FilePartition.maxSplitBytes``) and its
    confs: every file costs its length plus ``openCostInBytes``;

        maxSplitBytes = min(maxPartitionBytes,
                            max(openCostInBytes, total cost / minPartitionNum))

    with ``minPartitionNum`` defaulting to ``defaultParallelism``. The
    plan has ``min(#files, ceil(total cost / maxSplitBytes))`` tasks and
    fills them largest file first, each into the least-loaded task. A
    task decodes its files one after another, never part of one, so it
    still holds one frame and one Arrow chunk at a time. Returns each
    task's paths, in listing order.
    """
    if not items:
        return []
    open_cost = _conf_bytes(spark, "spark.sql.files.openCostInBytes")
    max_bytes = _conf_bytes(spark, "spark.sql.files.maxPartitionBytes")
    min_parts = spark.conf.get("spark.sql.files.minPartitionNum", None)
    min_parts = int(min_parts or spark.sparkContext.defaultParallelism)
    total = sum(size + open_cost for _path, size in items)
    # total / minPartitionNum rounds up (Spark floors it), so tiny files
    # never spill into a task past minPartitionNum
    split = max(1, min(max_bytes, max(open_cost, -(-total // min_parts))))
    # at least one task: an empty file is still read (strict mode rejects it)
    n_tasks = max(1, min(len(items), -(-total // split)))
    loads = [(0, task) for task in range(n_tasks)]
    members: List[List[int]] = [[] for _ in range(n_tasks)]
    order = sorted(range(len(items)), key=lambda i: -items[i][1])
    for i in order:
        load, task = heapq.heappop(loads)
        members[task].append(i)
        heapq.heappush(loads, (load + items[i][1] + open_cost, task))
    return [[items[i][0] for i in sorted(task)] for task in members]


def _planned_read(spark: SparkSession, path: str, read_file, schema) -> DataFrame:
    """The .jelly files under ``path`` as one DataFrame: ``read_file``
    maps one file to Arrow RecordBatches of ``schema``, and runs in the
    read tasks :func:`_plan_read_tasks` packs. The task frame is
    ``spark.range`` with one id per partition, and each task looks its
    files up by that id in the closure (PySpark broadcasts a large
    pickled closure once instead of shipping it with every task), so
    nothing runs in Python and nothing is shuffled before the reads."""
    from pyjelly_spark.session import ship_package

    ship_package(spark)
    tasks = _plan_read_tasks(spark, _jelly_listing(path))

    def read_tasks(batches):
        for batch in batches:
            for task in batch.column("id").to_pylist():
                for source in tasks[task]:
                    yield from read_file(source)

    # mapInArrow: RecordBatches flow straight from the readers' columnar
    # builders to the JVM; no pandas materialization on the read path
    return spark.range(len(tasks), numPartitions=max(len(tasks), 1)).mapInArrow(
        read_tasks, schema=schema
    )


def _rows_batch(rows: List[tuple], schema: StructType):
    """Row tuples -> one Arrow RecordBatch of ``schema``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    return pa.RecordBatch.from_arrays(
        [pa.array(col, field.type) for col, field in zip(zip(*rows), arrow_schema)],
        schema=arrow_schema,
    )


def _push_term(term, kinds, values, langs, datatypes) -> None:
    """Append one term's 4 flat columns (columnar dual of _term_cols)."""
    if term is None:
        kinds.append(None)
        values.append(None)
        langs.append(None)
        datatypes.append(None)
        return
    kind = term[0]
    if kind == "lit":
        kinds.append("lit")
        values.append(term[1])
        langs.append(term[2])
        datatypes.append(term[3])
        return
    langs.append(None)
    datatypes.append(None)
    if kind == "dg":
        kinds.append("dg")
        values.append(None)
    elif kind == "qt":
        from pyjelly_spark.jelly.nt import term_to_nt

        kinds.append("qt")
        values.append(term_to_nt(term))
    else:
        kinds.append(kind)
        values.append(term[1])


def _arrow_read_schema():
    import pyarrow as pa

    return pa.schema(
        [pa.field("source_file", pa.string(), nullable=False)]
        + [pa.field(n, pa.int64(), nullable=False) for n in ("frame_id", "stmt_idx")]
        + [pa.field(n, pa.string()) for n in _READ_COLS[3:]]
    )


def _decode_batches(
    source: str,
    frames: Iterator[bytes],
    logical_type_strict: Optional[str] = None,
    frame_id_offset: int = 0,
):
    """Decode the frames of one self-contained Jelly stream into bounded
    Arrow RecordBatches of flat statement rows (with frame_id /
    stmt_idx).

    Columnar construction: 19 python lists -> pa.array (C conversion),
    never a row-tuple list — the statement decode itself is the only
    per-row Python left on the read path.

    ``logical_type_strict``: None (accept any), "flat", or "grouped" —
    the reference's strict logical-type gate, applied per file as soon
    as its options row decodes.

    ``frame_id_offset`` shifts emitted frame_ids: segment decoding
    (read_jelly's split_foreign_files) passes the segment's first
    frame index so frame_ids stay file-global across segments.
    """
    import pyarrow as pa

    schema = _arrow_read_schema()
    decoder = StreamDecoder()
    lt_checked = logical_type_strict is None
    current_graph: Optional[tuple] = None
    frame_ids: List[int] = []
    cols: List[List] = [[] for _ in range(16)]
    (sk, sv, sl, sd, pk, pv, pl, pd_, ok, ov, ol, od, gk, gv, gl, gd) = cols
    chunk_start = 0

    def flush():
        nonlocal chunk_start
        n = len(frame_ids)
        arrays = [
            pa.array([source] * n, pa.string()),
            pa.array(frame_ids, pa.int64()),
            pa.array(range(chunk_start, chunk_start + n), pa.int64()),
        ] + [pa.array(col, pa.string()) for col in cols]
        chunk_start += n
        frame_ids.clear()
        for col in cols:
            col.clear()
        return pa.RecordBatch.from_arrays(arrays, schema=schema)

    for frame_id, frame in enumerate(frames, start=frame_id_offset):
        frame_rows, _meta = split_frame(frame)
        for row in frame_rows:
            event = decoder.decode_row(row)
            if not lt_checked and decoder.options is not None:
                jc.check_logical_type_strict(
                    decoder.options, logical_type_strict
                )
                lt_checked = True
            if event is None:
                continue
            kind = event[0]
            if kind == "triple":
                s, p, o = event[1], event[2], event[3]
                graph = current_graph
            elif kind == "quad":
                s, p, o, graph = event[1], event[2], event[3], event[4]
            elif kind == "graph_start":
                current_graph = event[1]
                continue
            elif kind == "graph_end":
                current_graph = None
                continue
            else:  # namespace rows: surfaced by read_jelly_namespaces
                continue
            frame_ids.append(frame_id)
            _push_term(s, sk, sv, sl, sd)
            _push_term(p, pk, pv, pl, pd_)
            _push_term(o, ok, ov, ol, od)
            _push_term(graph, gk, gv, gl, gd)
            if len(frame_ids) >= _DECODE_CHUNK_ROWS:
                yield flush()
    if not lt_checked:
        # Stream ended without an options row (e.g. empty/options-less
        # file): strict mode rejects it, matching decode_flat /
        # decode_grouped end-of-stream behavior.
        jc.check_logical_type_strict(decoder.options, logical_type_strict)
    if frame_ids:
        yield flush()


def _decode_path(
    source: str,
    logical_type_strict: Optional[str] = None,
    start: int = 0,
    end: Optional[int] = None,
    frame_id_offset: int = 0,
):
    """:func:`_decode_batches` of one .jelly object, or of its byte range
    ``[start, end)``, walked frame by frame from an open file: the task
    holds one frame and one Arrow chunk, never the object."""
    with _fs_open(source) as handle:
        yield from _decode_batches(
            source,
            read_frames(handle, start, end),
            logical_type_strict,
            frame_id_offset,
        )


def read_jelly(
    spark: SparkSession,
    path: str,
    logical_type_strict: Optional[str] = None,
    split_foreign_files: bool = False,
) -> DataFrame:
    """Read .jelly file(s) into a flat statements DataFrame.

    Parallelism = planned read tasks: each Jelly stream is
    self-contained, so files decode independently, and the driver packs
    whole files into size-balanced tasks by the rule of Spark's file
    sources (``spark.sql.files.maxPartitionBytes``, ``openCostInBytes``,
    ``minPartitionNum`` or ``defaultParallelism``; see
    :func:`_plan_read_tasks`). Many small files share a task and so share
    its fixed Python-worker cost; a large file gets a task to itself.
    Which task reads a file, and so the row order across files, follows
    the plan: order by (source_file, frame_id, stmt_idx) when order
    matters. Output carries ``frame_id``: for grouped streams (one
    graph/dataset per frame) a ``groupBy(source_file, frame_id)``
    recovers the groups — the distributed ``parse_jelly_grouped``.
    GRAPHS brackets are resolved to quads with the bracketing graph term.

    STRAGGLER CONTRACT (a file is never split): every read path walks
    each object frame by frame from an open file
    (``ioutils.walk_frames``), and a task decodes its files one after
    another, so it holds one frame plus one Arrow chunk whatever the
    objects' sizes; memory never limits the file size a task can read,
    time does. A single Jelly stream cannot be split: its lookup tables
    accumulate SEQUENTIALLY across frames, so a mid-file frame can
    reference entries declared gigabytes earlier
    (``ioutils.build_frame_index`` gives random access to frame BYTES,
    not to decoder STATE). Files written by this repo are immune:
    writers bound each stream at ``rows_per_stream`` (default 200k)
    statements. A FOREIGN multi-GB single-stream file decodes at one
    core's rate (~165k stmts/s) on any cluster — re-shard it once
    through ``read_jelly -> write_jelly`` and later reads scale with
    file count. The reference's parsers are single-stream sequential
    too (parse.py).

    ``split_foreign_files=True`` declares CONCATENATION SEMANTICS and
    recovers intra-file parallelism from it: each options-headed frame
    starts an independent stream (``ioutils.read_segments``), so a
    concatenated object (``cat a.jelly b.jelly`` — the object-store
    append pattern) decodes as byte-range segments, one task each, with
    FRESH decoder state per segment. For that shape it is also the only
    CORRECT read: a sequential decoder carries stream A's lookup tables
    into stream B and silently mis-resolves B's references (so does
    every Jelly implementation; the reference validates-and-continues on
    repeated options rows, parse/decode.py:259-267, which serves the
    OTHER, byte-indistinguishable shape: one stream re-emitting its
    options — keep this flag off for those). Mechanics: a pre-pass in
    the planned read tasks walks only frame HEADS (length prefix plus
    the first body bytes, enough to see an options row); segments then
    shuffle across the cluster and each task walks only its own byte
    range. frame_id stays file-global, stmt_idx restarts per segment —
    order by (source_file, frame_id, stmt_idx). Single-encoder files
    collapse to one segment and decode as the default path, plus one
    head-only walk.

    ``logical_type_strict``: None (default, route by physical type
    only), "flat", or "grouped" — the reference's strict gate
    (/root/reference/pyjelly/integrations/generic/parse.py:234-263):
    each file's DECLARED logical type must match or the decoding task
    raises JellyError. Use "grouped" when downstream consumes
    ``(source_file, frame_id)`` groups, "flat" when it treats the rows
    as one statement stream.
    """
    if logical_type_strict not in (None, "flat", "grouped"):
        raise ValueError(
            "logical_type_strict must be None, 'flat' or 'grouped'"
        )
    if split_foreign_files:
        return _read_jelly_split(spark, path, logical_type_strict)
    return _planned_read(
        spark,
        path,
        lambda source: _decode_path(source, logical_type_strict),
        READ_SCHEMA,
    )


_SEGMENT_SCHEMA = StructType(
    [
        StructField("source_file", StringType(), False),
        StructField("seg_start", LongType(), False),
        StructField("seg_end", LongType(), False),
        StructField("frame_offset", LongType(), False),
    ]
)


def _read_jelly_split(
    spark: SparkSession,
    path: str,
    logical_type_strict: Optional[str],
) -> DataFrame:
    """Two-stage segment-parallel decode (read_jelly split_foreign_files).

    Stage 1 (the planned read tasks): walk each file's frame heads and
    emit one row per cold-state segment. Stage 2 (one task per SEGMENT,
    after a repartition that spreads a single file's segments over the
    cluster): walk the segment's byte range frame by frame with a fresh
    decoder, frame_ids offset to stay file-global.
    """

    def scan_file(source):
        with _fs_open(source) as handle:
            segments = read_segments(handle)
        if segments:
            yield _rows_batch(
                [(source, start, end, first) for start, end, first in segments],
                _SEGMENT_SCHEMA,
            )

    segments = _planned_read(spark, path, scan_file, _SEGMENT_SCHEMA)

    def decode_segments(batches):
        for batch in batches:
            rows = zip(
                batch.column("source_file").to_pylist(),
                batch.column("seg_start").to_pylist(),
                batch.column("seg_end").to_pylist(),
                batch.column("frame_offset").to_pylist(),
            )
            for source, start, end, frame_offset in rows:
                yield from _decode_path(
                    source, logical_type_strict, start, end, frame_offset
                )

    n_parts = max(
        int(spark.conf.get("spark.sql.shuffle.partitions", "8")),
        spark.sparkContext.defaultParallelism,
    )
    # round-robin, not hash: with a handful of segments, hashing
    # (source_file, seg_start) can collide them into one task and
    # silently serialize the decode (measured: 2 segments, 8 slots,
    # 1.03x); round-robin guarantees the even spread, and assignment
    # is correctness-neutral since every task range-reads its own bytes
    return segments.repartition(n_parts).mapInArrow(
        decode_segments, schema=READ_SCHEMA
    )


def read_jelly_stream(
    spark: SparkSession,
    path: str,
    logical_type_strict: Optional[str] = None,
) -> DataFrame:
    """Structured Streaming source over a directory of .jelly files.

    Files arriving in ``path`` are discovered by the ``binaryFile``
    stream source and each decodes (statelessly — Jelly streams are
    self-contained per file) into the same flat statements schema as
    :func:`read_jelly`. Compose with watermarks/windows downstream;
    drain with ``trigger(availableNow=True)`` for batch parity. This is
    the engine's native analogue of the reference's "streaming" framing:
    frames arrive incrementally, decode state lives inside one file.

    ``logical_type_strict``: None / "flat" / "grouped" — the same
    reference strict gate as :func:`read_jelly`, applied per arriving
    file (a mismatched file fails its micro-batch).
    """
    if logical_type_strict not in (None, "flat", "grouped"):
        raise ValueError(
            "logical_type_strict must be None, 'flat' or 'grouped'"
        )
    from pyjelly_spark.session import ship_package

    ship_package(spark)
    stream = (
        spark.readStream.format("binaryFile")
        .schema(
            "path STRING, modificationTime TIMESTAMP, "
            "length BIGINT, content BINARY"
        )
        .option("pathGlobFilter", "*.jelly")
        .option("recursiveFileLookup", "true")
        .load(path)
        .select("path", "content")
    )

    def decode_files(batches):
        import pyarrow as pa

        for batch in batches:
            sources = batch.column("path").to_pylist()
            for source, content in zip(sources, batch.column("content")):
                # the content buffer is wrapped, not copied to bytes
                frames = read_frames(pa.BufferReader(content.as_buffer()))
                yield from _decode_batches(source, frames, logical_type_strict)

    return stream.mapInArrow(decode_files, schema=READ_SCHEMA)


FRAME_META_SCHEMA = StructType(
    [
        StructField("source_file", StringType(), False),
        StructField("frame_id", LongType(), False),
        StructField("n_rows", LongType(), False),
        StructField("key", StringType(), True),
        StructField("value", StringType(), True),
    ]
)


def read_jelly_frame_meta(spark: SparkSession, path: str) -> DataFrame:
    """Per-frame metadata of .jelly file(s), distributed.

    One row per (frame, metadata key); frames without metadata yield one
    row with null key/value so every frame is visible. This surfaces the
    side channel the reference exposes via ContextVar
    (/root/reference/pyjelly/integrations/generic/parse.py:186-190) as a
    first-class DataFrame.
    """

    def walk(source):
        rows = []
        with _fs_open(source) as handle:
            for frame_id, frame in enumerate(read_frames(handle)):
                frame_rows, metadata = split_frame(frame)
                n_rows = len(frame_rows)
                rows.extend(
                    (source, frame_id, n_rows, key, metadata[key].decode("latin1"))
                    for key in sorted(metadata)
                )
                if not metadata:
                    rows.append((source, frame_id, n_rows, None, None))
        if rows:
            yield _rows_batch(rows, FRAME_META_SCHEMA)

    return _planned_read(spark, path, walk, FRAME_META_SCHEMA)


NAMESPACE_SCHEMA = StructType(
    [
        StructField("source_file", StringType(), False),
        StructField("label", StringType(), False),
        StructField("iri", StringType(), False),
    ]
)


def read_jelly_namespaces(spark: SparkSession, path: str) -> DataFrame:
    """Namespace declarations of .jelly file(s) as (source_file, label,
    iri), distributed (protocol v2 rows; reference surfaces these as
    Prefix events, generic/parse.py:132-141)."""

    def walk(source):
        decoder = StreamDecoder()
        rows = []
        with _fs_open(source) as handle:
            for frame in read_frames(handle):
                for event in decoder.decode_frame(frame):
                    if event[0] == "namespace":
                        rows.append((source, event[1], event[2][1]))
        if rows:
            yield _rows_batch(rows, NAMESPACE_SCHEMA)

    return _planned_read(spark, path, walk, NAMESPACE_SCHEMA)


def transcode(
    spark: SparkSession,
    src: str,
    out_dir: str,
    options: Optional[jc.StreamOptions] = None,
    grouped_by_graph: bool = False,
    sort_cols: Optional[List[str]] = None,
    n_partitions: Optional[int] = None,
) -> pd.DataFrame:
    """Distributed format/framing transcoder: .jelly or .nt/.nq input ->
    .jelly output under any options.

    Covers the reference's conversion surface (e.g. QUADS -> GRAPHS via
    ``split_to_graphs``, flat -> grouped re-framing, preset/frame-size
    changes) as one Spark job: read -> (optional graph-keyed repartition
    + in-partition sort) -> write. Returns the write manifest.

    ``grouped_by_graph`` repartitions on the graph value and sorts each
    partition graph-major, so consecutive runs == whole graphs (one frame
    per graph). For flat output the statement order is the reader's
    (source_file, stmt_idx) order within each input file.
    """
    lower = src.lower()
    if lower.endswith((".nt", ".nq")):
        from pyjelly_spark.sources.nt_source import read_nt

        stmts = read_nt(spark, src)
    else:
        stmts = read_jelly(spark, src)
    if grouped_by_graph:
        parts = n_partitions or max(
            int(spark.conf.get("spark.sql.shuffle.partitions", "8")) // 2, 1
        )
        stmts = stmts.repartition(parts, "g_value").sortWithinPartitions(
            *(sort_cols or ["g_value", "s_value", "p_value", "o_value"])
        )
    elif sort_cols:
        stmts = stmts.sortWithinPartitions(*sort_cols)
    return write_jelly(
        stmts,
        out_dir,
        options=options,
        grouped_by_graph=grouped_by_graph,
        resume=False,
    )


def read_manifest_frames(path: str) -> List[dict]:
    """Frame-level stats of one .jelly file (debug/lineage helper)."""
    decoder = StreamDecoder()
    out = []
    with _fs_open(path) as handle:
        for i, frame in enumerate(read_frames(handle)):
            rows, metadata = split_frame(frame)
            events = [e for e in (decoder.decode_row(r) for r in rows) if e is not None]
            out.append(
                {
                    "frame": i,
                    "rows": len(rows),
                    "statements": len(events),
                    "metadata": {k: v.decode("latin1") for k, v in metadata.items()},
                }
            )
    return out


def write_jelly_stream(
    flat_statements: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    options: Optional[jc.StreamOptions] = None,
    grouped_by_graph: bool = False,
    namespaces: Optional[dict] = None,
    available_now: bool = True,
    query_name: str = "jelly_stream_writer",
):
    """Structured Streaming .jelly SINK — the write-side complement of
    :func:`read_jelly_stream`.

    Each micro-batch lands under ``out_dir/batch=<id>/`` as a complete,
    self-contained Jelly stream directory (same layout, manifest and
    options handling as :func:`write_jelly`, so :func:`read_jelly` over
    ``out_dir`` sees the union of all batches). Exactly-once at the
    file level on top of foreachBatch's at-least-once replay contract:

    - a replayed batch id whose ``_SUCCESS`` marker exists is skipped
      entirely (one metadata stat, no job);
    - a batch that failed MID-write resumes through ``write_jelly``'s
      per-partition manifest (completed partitions skip, the rest
      rewrite byte-identically — encoding is deterministic);
    - the ``_SUCCESS`` marker is written only after the whole batch's
      manifest is durable, and readers list only ``*.jelly`` files, so
      a torn batch is never half-visible to :func:`read_jelly_stream`
      (partition files are temp-named until their final rename,
      see ``write_jelly``).

    The reference's streaming story is frame-at-a-time over one socket
    (SURVEY.md §2.8); this is the cluster analogue: micro-batched,
    checkpointed, idempotent, partition-parallel within each batch.
    Returns the started StreamingQuery; callers ``awaitTermination``.
    """

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_dir = posixpath.join(out_dir, f"batch={batch_id:08d}")
        filesystem, base = _fs_for(batch_dir)
        marker = posixpath.join(base, "_SUCCESS")
        if _fs_exists(filesystem, marker):
            return  # replayed batch: already durable, skip
        write_jelly(
            batch_df,
            batch_dir,
            options=options,
            resume=True,
            grouped_by_graph=grouped_by_graph,
            namespaces=namespaces,
        )
        with filesystem.open_output_stream(marker) as out:
            out.write(b"")

    writer = (
        flat_statements.writeStream.foreachBatch(_sink)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
