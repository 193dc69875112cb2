"""End-to-end KG construction: source table -> triples -> Jelly streams.

Stages (BASELINE.json north_rule):
  1. extract     — mention detection + structural triples (extract.py)
  2. link        — call mentions resolved to def sites (linking.py)
  3. canonicalize— each symbol defined at several sites elects one
                   canonical def site in a symbol-keyed aggregation ->
                   canonical-entity triples
  4. materialize — skew-aware partitioning, deterministic in-partition
                   order, one Jelly stream per partition with manifest
                   lineage (jelly_io.py); checkpoint-resumable.

One execution shape. Extraction reduces the corpus to the narrow compact
frame (sha + mention arrays, no content) in one sweep, and that frame is
the run's only checkpoint. Two actions read it: the partition histogram,
which needs only the frame's array sizes (``plan_partitions``), and the
encode job, which runs linking, the canonical election, the triples
build and the encode once. ``resume`` picks only where the checkpoint
lives — executor storage for a fused run, parquet under ``out_dir`` for
a resumable one — and whether completed streams are skipped.

Scale design:
- extraction/linking/election are declarative -> Catalyst handles pushdown,
  broadcast choice, AQE skew splitting;
- materialization partitions by (repo, salt): salt splits mega-repos
  into bounded streams (each salted slice is an independent, valid Jelly
  stream — allowed because streams are self-contained);
- partition assignment is an explicit hash of (repo, salt) over salt
  counts that are a pure function of the input, so a resumed run
  reproduces identical partition contents (no sampling-based range
  partitioner in the resume path).
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field

import pandas as pd
from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pyjelly_spark.jelly import constants as jc
from pyjelly_spark.operators import extract as X
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


def build_triples(compact: DataFrame, config: PipelineConfig) -> DataFrame:
    """All pipeline triples in the uniform (repo, path, kind_rank, s, p, o)
    frame, derived from the compact frame (``extract.extract_compact``)
    without touching content.

    Lazy: the link joins and the canonical election run inside whatever
    action consumes the result — in ``run_pipeline`` that is the encode
    job, once. ``compact`` feeds the structural triples, the def sites
    and the call mentions, so callers pass it checkpointed
    (``run_pipeline`` keeps it on executor storage or as parquet);
    otherwise each consumer re-runs the content sweep.
    Each compact row yields at most :func:`file_triple_bound` triples.
    """
    triples = X.triples_from_compact(compact)
    # The def sites are exchanged on hash(symbol) once, here: every
    # def-side grouping below (the link dictionaries, the election) is
    # keyed by a superset of ``symbol``, so none adds an exchange of its
    # own (Spark reuses this one across branches whose subtrees match).
    defs = compact.select(
        F.col("repo").alias("def_repo"),
        F.col("path").alias("def_path"),
        F.explode("defs").alias("symbol"),
    ).repartition("symbol")

    if config.link_calls:
        calls = compact.select(
            "repo", "path", F.explode("calls").alias("symbol")
        )
        # no forced broadcast: the def dictionaries grow with the corpus
        # (one row per (symbol, repo, pkg)), so it would turn into a
        # driver collect of millions of rows per pass; AQE still
        # auto-broadcasts them while they fit the threshold
        linked = link_mentions(calls, defs)
        triples = triples.unionByName(resolved_call_triples(linked))

    if config.canonicalize:
        # Symbols defined at multiple sites form equivalence classes, each
        # one star (its def sites around the symbol hub), so each class
        # elects its canonical site in one symbol-keyed aggregation: the
        # least of its def-site IRIs and the hub IRI, the connected-
        # components representative (components.star_components). Sites
        # with a null repo or path count toward n_sites but have no IRI,
        # so they emit no triple; a site defined twice keeps both rows.
        site = def_site_iri(F.col("def_repo"), F.col("def_path"), F.col("symbol"))
        elected = (
            defs.groupBy("symbol")
            .agg(
                F.count(F.lit(1)).alias("n_sites"),
                F.least(
                    F.min(site), F.concat(F.lit(SYMBOL_BASE), F.col("symbol"))
                ).alias("component"),
            )
            .where(F.col("n_sites") > 1)
        )
        # Both join sides are already hash-partitioned on symbol, so a
        # shuffled hash join runs in place; a broadcast would add a job
        # that collects every colliding symbol to the driver.
        canonical = (
            defs.join(elected.hint("shuffle_hash"), "symbol")
            .where(F.col("def_repo").isNotNull() & F.col("def_path").isNotNull())
            .select(
                F.col("def_repo").alias("repo"),
                F.col("def_path").alias("path"),
                F.lit(7).cast("int").alias("kind_rank"),
                X.iri(site).alias("s"),
                X.iri(F.lit(X.P_CANONICAL)).alias("p"),
                X.iri(F.col("component")).alias("o"),
            )
        )
        triples = triples.unionByName(canonical)

    return triples


def file_triple_bound(config: PipelineConfig) -> Column:
    """Upper bound on the triples :func:`build_triples` derives from one
    compact row: 3 structural triples, one per import / def / call
    mention, plus at most one resolved call per call mention (linking
    keeps one winner per distinct mention) and at most one canonical
    triple per def mention (one per colliding def site)."""
    bound = (
        F.lit(3)
        + F.size("imports")
        + F.size("defs") * (2 if config.canonicalize else 1)
        + F.size("calls") * (2 if config.link_calls else 1)
    )
    # a null content row has null arrays and yields no triples; size() of
    # null is -1 (or null under ANSI), which must not shrink its repo's sum
    return F.greatest(bound, F.lit(0))


def plan_partitions(
    compact: DataFrame, triples: DataFrame, config: PipelineConfig
) -> DataFrame:
    """Skew-aware partition plan for ``triples`` (built from ``compact``):
    flat term columns, deterministic order.

    Salt count per repo = ceil(repo_bound / rows_per_stream), where
    repo_bound sums :func:`file_triple_bound` over the repo's compact
    rows, so the mega-repo fans out over several streams while small
    repos coalesce. Planning from the bound rather than from the joined
    triples (Scarlett, EuroSys 2011: plan skew from a cheap up-front
    estimate) means the histogram reads only the narrow compact frame —
    no link join or canonical election runs for it, and those run once,
    in the action that consumes the plan. The bound is at least the true
    count, so a repo never gets fewer salts than its triples need.

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
        compact.groupBy("repo")
        .agg(F.sum(file_triple_bound(config)).alias("repo_rows"))
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
    return (
        flatten_terms(salted)
        .repartition(n_parts, "repo", "salt")
        .sortWithinPartitions("repo", "path", "kind_rank", "o_value")
    )


def _release_pin(df: DataFrame) -> None:
    """Free the executor-storage blocks behind a ``localCheckpoint``ed
    frame.

    localCheckpoint has no public release (its blocks normally live until
    the JVM garbage-collects the RDD), so the materialized RDD is reached
    through the analyzed LogicalRDD and unpersisted directly — the
    package's only reach into Spark internals, pinned by
    ``test_run_pipeline_releases_its_checkpoints``. After release the
    frame is dead — callers only invoke this after their last action.
    """
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(True)
    except Py4JError:
        logging.getLogger(__name__).warning(
            "could not release a localCheckpoint pin; its blocks stay in "
            "executor storage until the JVM collects the RDD",
            exc_info=True,
        )


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

    One plan for both values of ``config.resume``: extract the compact
    frame, checkpoint it, histogram its triple bound
    (:func:`plan_partitions`), then run linking, the election, the
    triples build and the encode in one ``write_jelly`` job. ``resume``
    picks the checkpoint store and nothing else in the plan:

    - ``resume=False`` (fused, fire-and-forget): the compact frame is a
      ``localCheckpoint`` on executor storage, filled by the histogram
      job, read by the encode job and released after it. Stale outputs
      are wiped first and every partition is written — restart from
      scratch on failure is the contract.
    - ``resume=True`` (durable): the compact frame is parquet under
      ``out_dir/_compact``, which survives executor loss and restarts,
      and ``write_jelly`` skips every partition whose stream still
      matches its manifest sha. ``_resume_meta.json`` holds a two-level
      guard: an input content digest guards the compact checkpoint, and
      that digest plus the knobs the bytes depend on (link_calls,
      canonicalize, rows_per_stream, frame_rows, preset) guard the
      streams — changing e.g. frame_rows re-encodes every stream from
      the kept checkpoint.

    Both shapes write byte-identical streams for the same input.
    """
    import json
    import os
    import shutil

    compact_dir = os.path.join(config.out_dir, "_compact")
    meta_path = os.path.join(config.out_dir, "_resume_meta.json")
    compact = X.extract_compact(files)
    pin = None
    if config.resume:
        # count + min/max/xor of xxhash64 over repo/path/commit/lang — one
        # aggregate job, catches content changes that keep the row count
        digest = (
            files.select(F.xxhash64("repo", "path", "commit", "lang").alias("h"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("h").alias("mn"),
                F.max("h").alias("mx"),
                F.expr("bit_xor(h)").alias("xo"),
            )
            .collect()[0]
        )
        meta = {
            "input_digest": ":".join(str(digest[k]) for k in ("n", "mn", "mx", "xo")),
            "link_calls": config.link_calls,
            "canonicalize": config.canonicalize,
            "rows_per_stream": config.rows_per_stream,
            "frame_rows": config.frame_rows,
            "preset": [
                config.preset.names,
                config.preset.prefixes,
                config.preset.datatypes,
            ],
        }
        try:
            with open(meta_path) as handle:
                previous = json.load(handle)
        except FileNotFoundError:
            previous = {}
        if previous.get("input_digest") != meta["input_digest"] or not os.path.exists(
            os.path.join(compact_dir, "_SUCCESS")
        ):
            compact.write.mode("overwrite").parquet(compact_dir)
        if previous != meta:
            _wipe_jelly_outputs(config.out_dir)
            with open(meta_path, "w") as handle:
                json.dump(meta, handle)
        compact = spark.read.parquet(compact_dir)
    else:
        # A previous resume=True run's checkpoint and guard would otherwise
        # sit next to streams they no longer describe.
        _wipe_jelly_outputs(config.out_dir)
        shutil.rmtree(compact_dir, ignore_errors=True)
        if os.path.exists(meta_path):
            os.remove(meta_path)
        # localCheckpoint, NOT persist: the checkpoint stores raw UnsafeRow
        # blocks, while persist builds a compressed columnar cache whose
        # build+decode cost ~+18 s per job at the 4-executor level
        # (measured: histogram 19.1→29.7 s, encode 30.3→38.8 s). Un-freed
        # checkpoint blocks accumulated ~GBs per run in executor storage
        # across repeated fused runs in one long-lived session
        # (monotonically degrading rep walls, 50→114 s over five reps), so
        # the pin is released after the encode job.
        compact = pin = compact.localCheckpoint(eager=False)
    try:
        planned = plan_partitions(compact, build_triples(compact, config), config)
        options = jc.StreamOptions(frame_rows=config.frame_rows, preset=config.preset)
        return write_jelly(planned, config.out_dir, options, resume=config.resume)
    finally:
        if pin is not None:
            _release_pin(pin)


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
