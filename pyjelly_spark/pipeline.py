"""End-to-end KG construction: source table -> triples -> Jelly streams.

Stages (BASELINE.json north_rule):
  1. extract     — mention detection + structural triples (extract.py)
  2. link        — call mentions resolved to def sites (linking.py)
  3. canonicalize— symbol collision graph -> connected components ->
                   canonical-entity triples (components.py)
  4. materialize — skew-aware partitioning, deterministic in-partition
                   order, one Jelly stream per partition with manifest
                   lineage (jelly_io.py); checkpoint-resumable.

Scale design:
- extraction/linking/CC are declarative -> Catalyst handles pushdown,
  broadcast choice, AQE skew splitting;
- materialization partitions by (repo, salt): salt splits mega-repos
  into bounded streams (each salted slice is an independent, valid Jelly
  stream — allowed because streams are self-contained);
- partition assignment is an explicit hash of (repo, salt), so a resumed
  run reproduces identical partition contents (no sampling-based range
  partitioner in the resume path).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyjelly_spark.jelly import constants as jc
from pyjelly_spark.operators import extract as X
from pyjelly_spark.operators.components import (
    connected_components,
    star_components,
)
from pyjelly_spark.operators.extract import SYMBOL_BASE
from pyjelly_spark.operators.linking import (
    def_site_iri,
    link_mentions,
    resolved_call_triples,
)
from pyjelly_spark.sources.jelly_io import flatten_terms, write_jelly


@dataclass
class PipelineConfig:
    out_dir: str
    rows_per_stream: int = 200_000  # triples per output Jelly stream
    frame_rows: int = jc.DEFAULT_FRAME_ROWS
    preset: jc.TablePreset = field(default_factory=jc.TablePreset)
    link_calls: bool = True
    canonicalize: bool = True
    resume: bool = True
    # True = canonicalization uses the closed-form star CC: the
    # def-collision graph is a disjoint union of stars BY CONSTRUCTION
    # (def_site_iri embeds its symbol, so no def-site node can bridge
    # two symbol hubs), for which connected components is one hub-keyed
    # aggregation instead of O(log n) latency-bound rounds — the rounds
    # were ~8 s of core-count-invariant wall per job at every level
    # (BENCH.md §2.3). False falls back to the general iterative
    # operator (identical assignment, verified under test).
    structural_cc: bool = True


def build_triples(
    spark: SparkSession,
    files: DataFrame,
    config: PipelineConfig,
    *,
    pin_joins: bool = False,
    pins: "list | None" = None,
) -> DataFrame:
    """All pipeline triples in the uniform (repo, path, kind_rank, s, p, o)
    frame.

    ``pin_joins=True`` persists the two join-derived branches
    (resolved-call triples and canonical triples) in addition to the
    checkpointed compact frame — the fused (``resume=False``) pipeline
    runs TWO actions over this plan (the partition histogram, then the
    encode job), and without pins each action would re-run the link
    equi-join and the CC aggregation. persist() rather than
    localCheckpoint: the branches feed a union, and lazily-checkpointed
    union children regress into a Catalyst constraint-rewrite failure
    (Union.rewriteConstraints key-not-found) once the salt-map join is
    layered on top; persisted branches keep their logical plans so
    constraint propagation stays consistent. The staged
    (``resume=True``) path leaves the branches unpinned: there the whole
    plan executes exactly once inside the stage-write job and the
    parquet stage is the reuse point. Every pin — the compact frame's
    checkpoint in both shapes, the branches under ``pin_joins`` — is
    appended to ``pins`` so the caller can release it after its last
    action.
    """
    compact = X.extract_compact(files)
    if config.link_calls or config.canonicalize:
        # The compact frame feeds the triples build, the link dictionary,
        # the CC edge build, AND the canonical join — without a checkpoint
        # each consumer re-runs the content sweep over the whole corpus.
        # It is narrow (sha + mention arrays, no content), so pinning it
        # is cheap — unlike the wide struct triples frame, which is
        # deliberately staged to parquet instead (see run_pipeline).
        # localCheckpoint, NOT persist: the checkpoint stores raw
        # UnsafeRow blocks, while persist builds a compressed columnar
        # cache whose build+decode cost ~+18 s per job at the
        # 4-executor level (measured: histogram 19.1→29.7 s, encode
        # 30.3→38.8 s). The frame joins the caller's release list —
        # un-freed checkpoint blocks accumulated ~GBs
        # per run in executor storage across repeated fused runs in one
        # long-lived session (monotonically degrading rep walls,
        # 50→114 s over five reps); _release_pin frees them through the
        # materialized LogicalRDD once the caller's last action is done.
        compact = compact.localCheckpoint(eager=False)
        if pins is not None:
            pins.append(compact)
    triples = X.triples_from_compact(compact)

    defs = compact.select(
        F.col("repo").alias("def_repo"),
        F.col("path").alias("def_path"),
        F.explode("defs").alias("symbol"),
    )

    if config.link_calls:
        calls = compact.select(
            "repo", "path", F.explode("calls").alias("symbol")
        )
        # no forced broadcast: the def dictionaries grow with the corpus
        # (one row per (symbol, repo, pkg)), so it would turn into a
        # driver collect of millions of rows per pass; AQE still
        # auto-broadcasts them while they fit the threshold
        linked = link_mentions(calls, defs)
        resolved = resolved_call_triples(linked)
        if pin_joins:
            resolved = resolved.persist()
            if pins is not None:
                pins.append(resolved)
        triples = triples.unionByName(resolved)

    if config.canonicalize:
        # Symbols defined at multiple sites form equivalence classes: every
        # def site of symbol S links to the symbol node, and connected
        # components elect one canonical def site per class.
        multi = defs.groupBy("symbol").agg(F.count(F.lit(1)).alias("n_sites"))
        colliding = defs.join(
            F.broadcast(multi.where(F.col("n_sites") > 1).select("symbol")),
            "symbol",
        )
        # STAR-FOREST INVARIANT (star_components depends on this
        # construction): src = def_site_iri(...) EMBEDS its symbol, so a
        # def-site node can never attach to two symbol hubs, and src/dst
        # live in disjoint IRI namespaces (def-site vs SYMBOL_BASE), so
        # no node appears on both sides. If you change either line,
        # star_components silently returns wrong components — which is
        # why the call below runs with check_invariant=True (a 1-row
        # scalar guard that fails the job loudly instead).
        edges = colliding.select(
            def_site_iri(F.col("def_repo"), F.col("def_path"), F.col("symbol")).alias(
                "src"
            ),
            F.concat(F.lit(SYMBOL_BASE), F.col("symbol")).alias("dst"),
        )
        if config.structural_cc:
            # Star-forest closed form (see PipelineConfig.structural_cc).
            assignment = star_components(edges, check_invariant=True)
        else:
            assignment = connected_components(edges)
        canonical = (
            colliding.withColumn(
                "node",
                def_site_iri(F.col("def_repo"), F.col("def_path"), F.col("symbol")),
            )
            .join(assignment, "node")
            .select(
                F.col("def_repo").alias("repo"),
                F.col("def_path").alias("path"),
                F.lit(7).cast("int").alias("kind_rank"),
                X.iri(F.col("node")).alias("s"),
                X.iri(F.lit(X.P_CANONICAL)).alias("p"),
                X.iri(F.col("component")).alias("o"),
            )
        )
        if pin_joins:
            canonical = canonical.persist()
            if pins is not None:
                pins.append(canonical)
        triples = triples.unionByName(canonical)

    return triples


def plan_partitions(
    triples: DataFrame, config: PipelineConfig, pre_flattened: bool = False
) -> DataFrame:
    """Skew-aware partition plan: flat term columns, deterministic order.

    Salt count per repo = ceil(repo_triples / rows_per_stream), so the
    mega-repo fans out over several streams while small repos coalesce.

    One histogram action, driver-bounded: the aggregate returns the
    global total plus ONLY the mega-repos (repo_rows > rows_per_stream)
    — ``collect_list`` drops the nulls the ``when`` leaves for small
    repos — so the driver holds at most total/rows_per_stream entries no
    matter how many repos exist (a 10^6-repo corpus collects only its
    oversized tail). The mega-repo counts go back as a literal map
    column, so no Python job or join builds them; small repos miss the
    map and default to salt count 1, which is exactly their ceil()
    anyway.
    """
    agg = (
        triples.groupBy("repo")
        .agg(F.count(F.lit(1)).alias("repo_rows"))
        .agg(
            F.sum("repo_rows").alias("total"),
            F.collect_list(
                F.when(
                    F.col("repo_rows") > config.rows_per_stream,
                    F.struct("repo", "repo_rows"),
                )
            ).alias("big"),
        )
        .collect()[0]
    )
    total = int(agg["total"] or 0)
    n_parts = max(1, -(-total // config.rows_per_stream))
    # a null repo never matched the salt map; a map key cannot be null
    big = [r for r in agg["big"] or [] if r["repo"] is not None]
    n_salts = F.lit(1).cast("long")
    if big:
        salt_map = F.create_map(
            *(
                col
                for r in big
                for col in (
                    F.lit(r["repo"]),
                    F.lit(-(-int(r["repo_rows"]) // config.rows_per_stream)).cast("long"),
                )
            )
        )
        n_salts = F.coalesce(F.element_at(salt_map, F.col("repo")), n_salts)
    salted = triples.withColumn(
        "salt", F.pmod(F.xxhash64("path"), n_salts).cast("int")
    )
    flat = salted if pre_flattened else flatten_terms(salted)
    return (
        flat.repartition(n_parts, "repo", "salt")
        .sortWithinPartitions("repo", "path", "kind_rank", "o_value")
    )


def _release_pin(df: DataFrame) -> None:
    """Free the executor-storage blocks behind a pinned DataFrame.

    Handles BOTH pin kinds build_triples uses: persist() pins release
    through the public unpersist; localCheckpoint pins have no public
    release (their blocks normally live until the JVM garbage-collects
    the RDD), so the materialized RDD is reached through the analyzed
    LogicalRDD and unpersisted directly. After release the frame is
    dead — callers only invoke this after their last action.
    """
    try:
        df.unpersist(blocking=True)
    except Exception:
        pass
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(True)
    except Exception:
        pass  # not a LogicalRDD (persist pin) — public unpersist did it


def _wipe_jelly_outputs(out_dir: str) -> None:
    """Remove stream files + manifest: stale streams' manifest shas still
    match their stale bytes, so they must go whenever their inputs or
    knobs changed."""
    import os
    import shutil

    from pyjelly_spark.sources.jelly_io import manifest_path

    if os.path.isdir(out_dir):
        shutil.rmtree(manifest_path(out_dir), ignore_errors=True)
        for name in os.listdir(out_dir):
            if name.endswith(".jelly"):
                os.remove(os.path.join(out_dir, name))


def run_pipeline(
    spark: SparkSession,
    files: DataFrame,
    config: PipelineConfig,
) -> pd.DataFrame:
    """Execute all stages; returns the partition manifest (pandas).

    Two execution shapes, picked by ``config.resume``:

    - ``resume=True`` (durable checkpoint): the flat triples are
      materialized to a parquet stage directory (an explicit stage
      boundary under out_dir, zstd-compressed — long-common-prefix IRI
      columns compress ~2x better than snappy, and the stage write is
      the job's bandwidth-bound step), and the histogram + encode
      passes run as cheap scans over that leaf. The stage doubles as a
      resumable checkpoint of the relational half of the job — on a
      cluster it lives in the object store and survives executor loss.
    - ``resume=False`` (fused, fire-and-forget throughput): NO staged
      parquet at all. The extract DAG is pinned at its narrow waists
      (the compact frame + the two join branches, local checkpoints on
      executor storage), the partition histogram materializes them,
      and the encode job consumes them directly — extract fuses into
      encode with zero flat-triples bytes written or re-read. This
      removes the pipeline's one bandwidth-bound stage (BENCH.md §2.u:
      stage write scaled 0.72 vs the 0.88 host ceiling) at the price
      of restart-from-scratch on failure, which is exactly the
      resume=False contract.
    """
    import json
    import os
    import shutil

    stage_dir = os.path.join(config.out_dir, "_stage_triples")
    if not config.resume and os.path.isdir(config.out_dir):
        # Fused path. Clear stale outputs AND any stale staged-run
        # artifacts (a previous resume=True run's stage/meta would
        # otherwise sit next to streams they no longer describe).
        _wipe_jelly_outputs(config.out_dir)
        shutil.rmtree(stage_dir, ignore_errors=True)
        for name in ("_stage_meta.json", "_out_meta.json"):
            try:
                os.remove(os.path.join(config.out_dir, name))
            except FileNotFoundError:
                pass
    pins: list = []
    triples = build_triples(
        spark, files, config, pin_joins=not config.resume, pins=pins
    )
    try:
        if config.resume:
            marker = os.path.join(stage_dir, "_SUCCESS")
            stage_meta_path = os.path.join(config.out_dir, "_stage_meta.json")
            out_meta_path = os.path.join(config.out_dir, "_out_meta.json")
            # Two-level resume guard:
            # - stage_meta fingerprints what the STAGED TRIPLES depend on:
            #   an input content digest (count + min/max/xor of xxhash64
            #   over repo/path/commit/lang — one aggregate job, catches
            #   content changes that keep the row count) plus the
            #   stage-shaping knobs;
            # - out_meta fingerprints what the JELLY BYTES additionally
            #   depend on (partitioning + framing + lookup presets), so
            #   changing e.g. frame_rows invalidates the streams without
            #   rebuilding extraction.
            digest = (
                files.select(
                    F.xxhash64("repo", "path", "commit", "lang").alias("h")
                )
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.min("h").alias("mn"),
                    F.max("h").alias("mx"),
                    F.expr("bit_xor(h)").alias("xo"),
                )
                .collect()[0]
            )
            input_digest = ":".join(str(digest[k]) for k in ("n", "mn", "mx", "xo"))
            stage_meta = {
                "input_digest": input_digest,
                "link_calls": config.link_calls,
                "canonicalize": config.canonicalize,
            }
            out_meta = {
                "rows_per_stream": config.rows_per_stream,
                "frame_rows": config.frame_rows,
                "preset": [
                    config.preset.names,
                    config.preset.prefixes,
                    config.preset.datatypes,
                ],
            }
            if not (
                os.path.exists(marker) and _meta_matches(stage_meta_path, stage_meta)
            ):
                _wipe_jelly_outputs(config.out_dir)
                flatten_terms(triples).write.mode("overwrite").option(
                    "compression", "zstd"
                ).parquet(stage_dir)
                os.makedirs(config.out_dir, exist_ok=True)
                with open(stage_meta_path, "w") as handle:
                    json.dump(stage_meta, handle)
                with open(out_meta_path, "w") as handle:
                    json.dump(out_meta, handle)
            elif not _meta_matches(out_meta_path, out_meta):
                _wipe_jelly_outputs(config.out_dir)
                with open(out_meta_path, "w") as handle:
                    json.dump(out_meta, handle)
            flat = spark.read.parquet(stage_dir)
            planned = plan_partitions(flat, config, pre_flattened=True)
        else:
            planned = plan_partitions(triples, config)
        options = jc.StreamOptions(frame_rows=config.frame_rows, preset=config.preset)
        return write_jelly(planned, config.out_dir, options, resume=config.resume)
    finally:
        # the next job in this session must not find the executors'
        # storage still holding this run's dead blocks
        for pinned in pins:
            _release_pin(pinned)


def _meta_matches(path: str, expected: dict) -> bool:
    import json
    import os

    if not os.path.exists(path):
        return False
    with open(path) as handle:
        return json.load(handle) == expected


def verify_lineage(
    spark: SparkSession, files: DataFrame, out_dir: str
) -> tuple:
    """Per-row invariant: sha256(content) of every source row must appear
    as that file's kg:sha256 triple in the materialized streams.

    Returns (n_source_rows, n_matched).
    """
    from pyjelly_spark.sources.jelly_io import read_jelly

    expected = files.select(
        X.file_iri(F.col("repo"), F.col("path")).alias("file_node"),
        F.sha2(F.col("content"), 256).alias("content_sha"),
    )
    decoded = read_jelly(spark, out_dir)
    actual = decoded.where(F.col("p_value") == X.P_SHA256).select(
        F.col("s_value").alias("file_node"), F.col("o_value").alias("stream_sha")
    )
    joined = expected.join(actual, "file_node", "left")
    agg = joined.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum((F.col("content_sha") == F.col("stream_sha")).cast("long")).alias(
            "matched"
        ),
    ).collect()[0]
    return agg["total"], agg["matched"]
