"""Isolated layer calls for the traced run.

Each function times one layer through its public entry point, outside
the op span: the Spark operators into a ``noop`` sink on the benchmark's
cached input, and the codec loops on one core with no Spark at all.
"""

from __future__ import annotations

import statistics
from typing import Dict, List

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyjelly_spark.jelly.decoder import decode_flat
from pyjelly_spark.jelly.encoder import StreamEncoder, delimit
from pyjelly_spark.jelly.ioutils import (
    frames_from_bytes,
    iter_delimited_frames,
    read_stream_options,
    scan_stream_segments,
)
from pyjelly_spark.operators import extract as X
from pyjelly_spark.operators.components import star_components
from pyjelly_spark.operators.linking import def_site_iri, link_mentions, resolved_call_triples

CODEC_REPS = 3


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def operator_layers(files: DataFrame, tracer) -> Dict[str, float]:
    """extract / link / star-CC, each run into a noop sink.

    The compact frame and the edge list are cached outside the spans,
    so each span times one operator over inputs that are already built.
    """
    out: Dict[str, float] = {}
    with tracer.span("extract_compact") as span:
        _noop(X.extract_compact(files))
    out["extract.compact_s"] = span.seconds

    compact = X.extract_compact(files).cache()
    compact.count()
    try:
        with tracer.span("triples_from_compact") as span:
            _noop(X.triples_from_compact(compact))
        out["extract.triples_s"] = span.seconds

        defs = compact.select(
            F.col("repo").alias("def_repo"),
            F.col("path").alias("def_path"),
            F.explode("defs").alias("symbol"),
        )
        calls = compact.select("repo", "path", F.explode("calls").alias("symbol"))
        with tracer.span("link_mentions") as span:
            _noop(link_mentions(calls, defs))
        out["linking.link_s"] = span.seconds
        resolved = resolved_call_triples(link_mentions(calls, defs)).count()
        out["linking.resolved_ratio"] = resolved / max(calls.count(), 1)

        # the def-collision star forest, built as the pipeline builds it
        multi = defs.groupBy("symbol").agg(F.count(F.lit(1)).alias("n_sites"))
        colliding = defs.join(
            F.broadcast(multi.where(F.col("n_sites") > 1).select("symbol")), "symbol"
        )
        edges = colliding.select(
            def_site_iri(F.col("def_repo"), F.col("def_path"), F.col("symbol")).alias("src"),
            F.concat(F.lit(X.SYMBOL_BASE), F.col("symbol")).alias("dst"),
        ).cache()
        try:
            out["components.edges"] = float(edges.count())
            with tracer.span("star_components") as span:
                _noop(star_components(edges, check_invariant=True))
            out["components.star_s"] = span.seconds
        finally:
            edges.unpersist(blocking=True)
    finally:
        compact.unpersist(blocking=True)
    return out


def _median_seconds(fn, tracer, name: str) -> float:
    walls = []
    for _ in range(CODEC_REPS):
        with tracer.span(name) as span:
            fn()
        walls.append(span.seconds)
    return statistics.median(walls)


def codec_layers(stream: bytes, concat: bytes, n_streams: int, tracer) -> Dict[str, float]:
    """Single-core codec and framing rates.

    ``stream`` is one written stream; its term tuples, decoded once here,
    are what the encoder loop re-encodes. ``concat`` is every stream of
    the corpus concatenated into one object. Returns the metrics and
    raises ValueError when a loop's output disagrees with its input.
    """
    statements: List[tuple] = [e[1:] for e in decode_flat(frames_from_bytes(stream))]
    n = len(statements)

    def decode() -> None:
        if sum(1 for _ in decode_flat(frames_from_bytes(stream))) != n:
            raise ValueError("decode_flat statement count changed between reps")

    options = read_stream_options(stream)

    def encode() -> bytes:
        encoder = StreamEncoder(options)
        chunks = []
        for s, p, o in statements:
            frame = encoder.add_triple(s, p, o)
            if frame is not None:
                chunks.append(delimit(frame))
        tail = encoder.take_frame()
        if tail is not None:
            chunks.append(delimit(tail))
        return b"".join(chunks)

    decode_s = _median_seconds(decode, tracer, "decode_flat")
    encode_s = _median_seconds(encode, tracer, "StreamEncoder.add_triple")
    back = sum(1 for _ in decode_flat(iter_delimited_frames(encode())))
    if back != n:
        raise ValueError(f"re-encoded stream holds {back} statements, not {n}")

    segments = scan_stream_segments(concat)
    if len(segments) != n_streams:
        raise ValueError(f"scan_stream_segments found {len(segments)} segments in {n_streams} streams")
    walk_s = _median_seconds(
        lambda: sum(1 for _ in iter_delimited_frames(concat)), tracer, "iter_delimited_frames"
    )
    scan_s = _median_seconds(lambda: scan_stream_segments(concat), tracer, "scan_stream_segments")
    return {
        "decoder.stmts_per_s": n / decode_s,
        "encoder.stmts_per_s": n / encode_s,
        "ioutils.frame_walk_s": walk_s,
        "ioutils.segment_scan_s": scan_s,
        "jelly_io.split_segments": float(len(segments)),
    }

