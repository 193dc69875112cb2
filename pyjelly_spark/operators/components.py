"""Iterative graph algorithms over edge DataFrames: connected components
(alternating large-star / small-star joins), integer PageRank, and
bounded-depth BFS reachability.

The O(log n)-round MapReduce CC algorithm (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14) expressed as DataFrame
aggregations — the scale path for canonicalizing entities over edge sets
far too large for any single machine. The reference has no counterpart
(SURVEY.md §2.9); this exists for the pipeline's canonicalization stage
per BASELINE.json north_star.

Node ids are strings (IRIs); component representative = lexicographic
minimum, so the canonical IRI is stable and meaningful.

Scale notes:
- each round is one shuffle (groupBy node) + one projection; rounds are
  O(log n) in the worst case, 2-4 in practice for social-ish graphs;
- ``localCheckpoint`` every round truncates the lineage so plans don't
  grow exponentially (iterative joins are the classic Spark lineage bomb);
- convergence is detected structurally (the converged state is a star
  forest: src/dst node sets disjoint, srcs unique) with one aggregation
  job per round — no extra confirm round, no full collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType


def _symmetrize(edges: DataFrame, dedup: bool = False) -> DataFrame:
    """Both directions of every edge. The union itself is narrow (no
    shuffle); ``dedup`` adds a distinct and is only worth one shuffle at
    stream entry — inside the rounds duplicate edges are harmless
    (every aggregation here is a min, and min over a multiset equals min
    over its set), so rounds skip it and save a full shuffle stage each.
    """
    forward = edges.select(F.col("src"), F.col("dst"))
    backward = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    both = forward.unionByName(backward).where(F.col("src") != F.col("dst"))
    return both.distinct() if dedup else both


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u (over the SYMMETRIZED adjacency): connect every
    strictly-larger neighbor to min(N(u) ∪ {u}).

    Symmetrizing inside each round matters: small-star emits a directed
    node->root forest, and large-star's neighborhood definition is
    undirected (Kiveris et al. §3). No output distinct: duplicates feed
    min-aggregations downstream and small-star ends with the one
    distinct that bounds the per-round edge set.

    The per-node minimum is a window aggregate, not groupBy+join: one
    hash exchange on ``src`` instead of three (agg shuffle + both join
    sides) — the rounds are stage-latency-bound at moderate edge counts,
    so exchange count per round is what bounds N->4N scaling efficiency.
    """
    both = _symmetrize(edges)
    m = F.least(F.min("dst").over(Window.partitionBy("src")), F.col("src"))
    return (
        both.withColumn("m", m)
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges high->low; for each node u connect all small neighbors
    (and u itself) to the minimum of that neighborhood.

    Same single-exchange window shape as ``_large_star``; the node's own
    (u -> min) link is emitted from the row(s) where ``dst`` IS the
    minimum (instead of a second union branch over a joined aggregate),
    and the closing ``distinct`` both dedups and bounds the per-round
    edge set.
    """
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).where(F.col("src") != F.col("dst"))
    withm = oriented.withColumn(
        "m", F.min("dst").over(Window.partitionBy("src"))
    )
    pairs = withm.select(
        F.explode(
            F.when(
                F.col("dst") == F.col("m"),
                F.array(
                    F.struct(F.col("dst").alias("a"), F.col("m").alias("b")),
                    F.struct(F.col("src").alias("a"), F.col("m").alias("b")),
                ),
            ).otherwise(
                F.array(F.struct(F.col("dst").alias("a"), F.col("m").alias("b")))
            )
        ).alias("e")
    ).select(F.col("e.a").alias("src"), F.col("e.b").alias("dst"))
    return pairs.where(F.col("src") != F.col("dst")).distinct()


class _round_shuffles:
    """Right-size shuffle partitions for small iterative rounds (the
    same treatment as ``_run_rounds``): with a fixed session setting, a
    100k-edge graph would run every round across the full partition
    count, paying pure task-scheduling latency — which is exactly what
    bounds N->4N scaling on latency-bound iterative operators. AQE is
    left ON here (unlike the CC rounds, whose one-job-per-round
    convergence collect AQE would multiply); restored on exit."""

    def __init__(self, spark, n_rows: int, per_part: int = 50_000) -> None:
        self.spark = spark
        self.n_rows = n_rows
        self.per_part = per_part

    def __enter__(self):
        self.before = self.spark.conf.get("spark.sql.shuffle.partitions")
        parts = max(4, min(int(self.before), self.n_rows // self.per_part + 1))
        self.spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        return self

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.before)
        return False


def _converged(edges: DataFrame) -> bool:
    """Exact convergence test, one aggregation job, no extra round.

    The alternating rounds have converged exactly when the edge set is a
    star forest rooted at component minima: no node appears both as a
    src and as a dst, and no src repeats (small-star's closing distinct
    already collapsed duplicates). Both conditions fall out of one
    groupBy(node) over the role-tagged node stream — checking this right
    after a round saves the extra confirm round a signature-equality
    test needs (run round k+1, compare), which on near-star graphs is a
    third of the total CC wall.
    """
    roles = edges.select(
        F.col("src").alias("node"), F.lit(1).alias("s"), F.lit(0).alias("d")
    ).unionByName(
        edges.select(
            F.col("dst").alias("node"), F.lit(0).alias("s"), F.lit(1).alias("d")
        )
    )
    per_node = roles.groupBy("node").agg(
        F.max("s").alias("is_src"),
        F.max("d").alias("is_dst"),
        F.sum("s").alias("n_src"),
    )
    row = per_node.agg(
        F.coalesce(F.sum(F.col("is_src") * F.col("is_dst")), F.lit(0)).alias(
            "overlap"
        ),
        F.coalesce(
            F.sum(F.when(F.col("is_src") == 1, F.col("n_src") - 1)), F.lit(0)
        ).alias("dup_src"),
    ).collect()[0]
    return row["overlap"] == 0 and row["dup_src"] == 0


#: above this symmetrized-edge count the rounds run on hashed long ids:
#: the per-round shuffle volume (strings are 100+ bytes vs 8-byte longs)
#: starts to dominate the extra node-table/mapping stages the hashed path
#: pays. Below it, small graphs are stage-latency-bound and the string
#: path's fewer stages win. Measured crossover on the pipeline's def-site
#: collision graph (~100-byte IRIs): string wins at 800k edges (8.0 s vs
#: 9.1 s), hashed wins at 1.2M symmetrized-deduped edges on BOTH cluster
#: sizes (4 cores: 22.2 s vs 26.5 s; 16 cores: 12.9 s vs 17.2 s steady).
HASH_ID_MIN_EDGES = 1_000_000

#: at or below this symmetrized-edge count CC skips the distributed
#: rounds entirely: a driver union-find on the collected edges is exact,
#: bounded (~20 MB worst case), and replaces 4-10 fixed-latency jobs
DRIVER_CC_MAX_EDGES = 100_000


def _driver_cc(sym: DataFrame) -> DataFrame:
    """Union-find over a collected (already symmetrized) edge list.

    Representative = smallest node id in the component, matching the
    distributed rounds' contract exactly.
    """
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for row in sym.collect():
        a, b = row[0], row[1]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by representative order keeps the min as root
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    rows = [(node, find(node)) for node in parent]
    node_type = sym.schema[0].dataType
    out_schema = StructType(
        [
            StructField("node", node_type, False),
            StructField("component", node_type, False),
        ]
    )
    return sym.sparkSession.createDataFrame(rows, out_schema)


def _run_rounds(
    current: DataFrame, n_edges: int, max_rounds: int, checkpoint: bool
) -> DataFrame:
    """Alternating large-star/small-star rounds over a pre-symmetrized,
    deduped (and, if requested, checkpointed) edge set with an orderable
    node id type. Returns the converged node -> component-minimum forest.
    """
    spark = current.sparkSession
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    parts_before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        # right-size round shuffles to the materialized edge count: with
        # AQE off, a 2k-edge graph would otherwise run every round across
        # the full session partition count, paying pure task-scheduling
        # overhead; big graphs keep the session setting.
        round_parts = max(4, min(int(parts_before), n_edges // 50_000 + 1))
        spark.conf.set("spark.sql.shuffle.partitions", str(round_parts))
        for _ in range(max_rounds):
            current = _small_star(_large_star(current))
            if checkpoint:
                # lazy checkpoint: the convergence collect below is the
                # materializing action, so each round costs ONE job
                # (eager=True would run a second, redundant one)
                current = current.localCheckpoint(eager=False)
            if _converged(current):
                break
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_before)
        spark.conf.set("spark.sql.shuffle.partitions", parts_before)
    return current


def pagerank_int(
    edges: DataFrame,
    iterations: int = 8,
    scale: int = 10**12,
    damping_pct: int = 85,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over an edge DataFrame (src, dst) —
    GraphFrames-style iterative joins, in INTEGER arithmetic.

    Every step is integer math on ranks expressed in 1/``scale`` units:
    per-node contribution = ``pr div outdeg`` (floor), damped sum =
    ``damping_pct * sum div 100``. Integer addition is associative, so
    the result is bit-identical regardless of engine, partitioning, or
    summation order — which is what makes an iterative float algorithm
    oracle-gateable (the DuckDB oracle unrolls the same recurrence).
    Dangling-node mass is dropped (not redistributed); self-loops and
    duplicate edges are removed first. Both choices are part of the
    operator contract.

    Scale shape: per iteration one equi-join of edges with the rank
    table on src (both hash-partitioned on the same key, so consecutive
    iterations reuse the partitioning) + one groupBy(dst) aggregation
    with map-side partial sums. Lineage is truncated with a lazy
    ``localCheckpoint`` per iteration — the classic iterative-join
    lineage bomb, same treatment as the CC rounds above.
    """
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("pr", F.lit(0).cast("long"))
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    if seeds is None:
        base_col = F.lit((scale * (100 - damping_pct) // 100) // n)
        pr = nodes.withColumn("pr", F.lit(scale // n).cast("long"))
    else:
        # personalized PageRank: teleport mass goes ONLY to the seed
        # set (initial mass likewise) — the relatedness/recommendation
        # variant; identical integer recurrence otherwise, so the
        # oracle unrolls the same CTEs with a seed-gated base term.
        marks = seeds.select(F.col("node")).distinct().withColumn(
            "__seed", F.lit(1)
        )
        nodes = nodes.join(marks, "node", "left").localCheckpoint(eager=True)
        ns = nodes.where(F.col("__seed").isNotNull()).count()
        if ns == 0:
            raise ValueError("personalized pagerank requires >= 1 seed in the graph")
        base_s = (scale * (100 - damping_pct) // 100) // ns
        base_col = F.when(F.col("__seed").isNotNull(), F.lit(base_s)).otherwise(
            F.lit(0)
        )
        pr = nodes.select(
            "node",
            F.when(F.col("__seed").isNotNull(), F.lit(scale // ns))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("pr"),
        )
    with _round_shuffles(e.sparkSession, e.count()):
        for _ in range(iterations):
            sums = (
                e.join(pr, e["src"] == pr["node"])
                .join(outdeg, "src")
                .select(
                    F.col("dst").alias("node"),
                    F.expr("pr div outdeg").alias("c"),
                )
                .groupBy("node")
                .agg(F.sum("c").alias("s"))
            )
            pr = (
                nodes.join(sums, "node", "left")
                .select(
                    "node",
                    (
                        base_col
                        + F.expr(f"({damping_pct} * coalesce(s, 0L)) div 100")
                    ).cast("long").alias("pr"),
                )
                .localCheckpoint(eager=False)
            )
    return pr.select("node", "pr")


def hits_int(
    edges: DataFrame,
    iterations: int = 4,
    scale: int = 10**6,
) -> DataFrame:
    """Fixed-iteration HITS (hubs & authorities) in integer arithmetic.

    Per round: auth_raw(v) = sum of hub over in-neighbors, renormalized
    to ``auth = auth_raw * scale div max(auth_raw)``; then hub_raw(v) =
    sum of auth over out-neighbors, renormalized the same way. Integer
    max is order-insensitive and floor division is deterministic, so —
    like pagerank_int — the whole recurrence is bit-exact across
    engines and the DuckDB oracle unrolls the identical CTEs (the usual
    L2 normalization would not be: sqrt is float).

    Score frames stay SPARSE (only nodes with in-/out-edges appear;
    absent = 0); the final result left-joins onto the node set. The
    per-round max enters as a broadcast 1-row cross join, keeping each
    round a single plan: join + groupBy + broadcast-nest — one shuffle
    per half-round, partitioning reused across rounds.

    Overflow contract: with in/out-degrees below ~10^6 and scale 10^6,
    raw sums stay <= 10^12 and the rescale product <= 10^18 < 2^63.
    """
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # hubs start at `scale` on every node that has an out-edge (sparse)
    hub = e.select(F.col("src").alias("node")).distinct().withColumn(
        "h", F.lit(scale).cast("long")
    )
    auth = None
    with _round_shuffles(e.sparkSession, e.count()):
        for _ in range(iterations):
            a_raw = (
                e.join(hub, e["src"] == hub["node"])
                .groupBy(F.col("dst").alias("anode"))
                .agg(F.sum("h").alias("raw"))
            )
            a_max = a_raw.agg(F.max("raw").alias("mx"))
            auth = (
                a_raw.crossJoin(F.broadcast(a_max))
                .select(
                    F.col("anode").alias("node"),
                    F.expr(f"(raw * {scale}) div mx").cast("long").alias("a"),
                )
                .localCheckpoint(eager=False)
            )
            h_raw = (
                e.join(auth, e["dst"] == auth["node"])
                .groupBy(F.col("src").alias("hnode"))
                .agg(F.sum("a").alias("raw"))
            )
            h_max = h_raw.agg(F.max("raw").alias("mx"))
            hub = (
                h_raw.crossJoin(F.broadcast(h_max))
                .select(
                    F.col("hnode").alias("node"),
                    F.expr(f"(raw * {scale}) div mx").cast("long").alias("h"),
                )
                .localCheckpoint(eager=False)
            )
    return (
        nodes.join(hub, "node", "left")
        .join(auth, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("h"), F.lit(0)).cast("long").alias("hub"),
            F.coalesce(F.col("a"), F.lit(0)).cast("long").alias("auth"),
        )
    )


def _peel_degree_one(sym: DataFrame):
    """Contract degree-1 nodes onto their single neighbor before the
    rounds (the classic pendant peel).

    When to use (it is opt-in, ``peel=False`` by default): graphs whose
    rounds take MANY iterations and whose pendant fraction is high —
    long chains, deep trees. On the pipeline's star-forest
    canonicalization graph the measured rounds already converge in ONE
    iteration (large-star/small-star is exact on star forests), so
    there the peel's extra degree-agg + anti-join shuffles cost more
    than they save (isolated 400k-edge measurement: rounds 2.0 s vs
    peel 3.0 s steady at 16 cores) — which is why it is not the
    default. Chains lose their tips; pendant-heavy graphs lose most
    nodes per pass.

    Returns (core_edges, pend_edges) where pend_edges holds one
    (node, nbr) row per removed pendant. Exactness is restored by the
    caller's final representative remap: provisional components (core
    assignment + pendant attachments) partition each true component
    into one group, and min-over-members recovers the contract's
    representative even when a peeled pendant is the global minimum.
    """
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    pend_nodes = deg.where(F.col("deg") == 1).select("src")
    pend_edges = sym.join(pend_nodes, "src", "left_semi").select(
        F.col("src").alias("node"), F.col("dst").alias("nbr")
    )
    core_edges = sym.join(pend_nodes, "src", "left_anti").join(
        pend_nodes.select(F.col("src").alias("dst")), "dst", "left_anti"
    )
    return core_edges, pend_edges


def connected_components(
    edges: DataFrame,
    max_rounds: int = 25,
    checkpoint: bool = True,
    hash_ids: bool | None = None,
    peel: bool = False,
) -> DataFrame:
    """Edge list (src, dst) -> (node, component) assignment.

    ``component`` is the smallest reachable node id under the node
    column type's ordering (lexicographic for strings, numeric for
    ints — the operator is type-agnostic: the rounds, the driver
    union-find, and the xxhash64 key compaction all work on any
    orderable, hashable column type, so numeric-id graphs skip the
    pad-to-string round-trip). Isolated nodes don't appear (they are
    their own components trivially); callers union them in if needed.

    Size-adaptive key representation: beyond HASH_ID_MIN_EDGES the rounds
    run on ``xxhash64`` node ids — every round shuffles the edge set
    several times, and 8-byte keys cut that volume ~10x vs 100+-byte IRIs
    (the difference between shuffle-bound and latency-bound CC at
    10^9-edge scale). A one-job guard verifies the hashing is
    collision-free on THIS graph (count(iri) == count(distinct hash))
    and falls back to string-keyed rounds otherwise, so results are
    always exact; the lexicographic representative is restored by a
    post-pass (min IRI per hash-component). ``hash_ids`` forces either
    path. AQE is suspended for the rounds — its per-query-stage jobs
    multiply scheduling overhead on tiny iterative shuffles.
    """
    sym = _symmetrize(edges, dedup=True)
    if checkpoint:
        sym = sym.localCheckpoint(eager=True)
    n_edges = sym.count()

    if n_edges <= DRIVER_CC_MAX_EDGES and hash_ids is None:
        # Tiny-graph escape: below this size the rounds are pure
        # fixed-latency (each large-star/small-star round is 2-3 Spark
        # jobs regardless of data), so a driver union-find over the
        # collected edge list (bounded: <= ~20 MB) replaces 4-10 jobs
        # with one collect + one createDataFrame. Same contract:
        # component = min reachable node, isolated nodes absent. At
        # scale the threshold never triggers; it exists precisely for
        # the many small candidate graphs (dedup clusters, per-key
        # linking) where round latency dominated end-to-end wall time.
        return _driver_cc(sym)

    if peel:
        core, pend = _peel_degree_one(sym)
        if checkpoint:
            pend = pend.localCheckpoint(eager=False)
            core = core.localCheckpoint(eager=True)
        n_core = core.count()
        if n_core <= 0.6 * n_edges:
            # the peel removed enough to pay for its jobs: solve the
            # core (recursively — a small core drops to the driver
            # union-find, an empty one skips CC entirely), then attach
            # pendants and remap representatives to the true minimum
            if n_core:
                core_assign = connected_components(
                    core,
                    max_rounds=max_rounds,
                    checkpoint=checkpoint,
                    hash_ids=hash_ids,
                    peel=False,
                )
            else:
                core_assign = pend.select(
                    F.col("node"), F.col("node").alias("component")
                ).where(F.lit(False))
            attach = pend.join(
                core_assign.withColumnRenamed("node", "nbr"), "nbr", "left"
            )
            b_rows = attach.where(F.col("component").isNotNull()).select(
                "node", "component"
            )
            leftover = attach.where(F.col("component").isNull()).select(
                "node", "nbr"
            )
            # fully-peeled groups: pendants around a core-less hub (or a
            # pendant-pendant pair) — component = min(members, hub)
            grp = leftover.groupBy("nbr").agg(
                F.min("node").alias("min_node")
            ).select(
                "nbr", F.least("min_node", F.col("nbr")).alias("component")
            )
            c_rows = (
                leftover.join(grp, "nbr")
                .select("node", "component")
                .unionByName(
                    grp.select(F.col("nbr").alias("node"), "component")
                )
            )
            if not n_core:
                # star-forest fast path: every group's component is
                # already least(min pendant, hub) — provably the true
                # minimum, so the representative remap is a no-op and
                # its two shuffles are skipped (groupBy(node) stays as
                # the dedupe for pendant-pendant double rows)
                return c_rows.groupBy("node").agg(
                    F.min("component").alias("component")
                )
            prov = (
                core_assign.unionByName(b_rows)
                .unionByName(c_rows)
                .groupBy("node")
                .agg(F.min("component").alias("component"))
            )
            reps = prov.groupBy("component").agg(F.min("node").alias("rep"))
            return prov.join(reps, "component").select(
                "node", F.col("rep").alias("component")
            )
        # peel didn't pay: run the rounds over the full graph

    use_hash = hash_ids if hash_ids is not None else n_edges >= HASH_ID_MIN_EDGES

    if use_hash:
        nodes = (
            sym.select(F.col("src").alias("iri"))  # sym is symmetric: src covers all
            .distinct()
            .withColumn("id", F.xxhash64("iri"))
        )
        if checkpoint:
            nodes = nodes.localCheckpoint(eager=False)
        guard = nodes.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("id").alias("nh"),
        ).collect()[0]
        use_hash = guard["n"] == guard["nh"]  # collision => exact fallback

    if not use_hash:
        current = _run_rounds(sym, n_edges, max_rounds, checkpoint)
        members = current.select(
            F.col("src").alias("node"), F.col("dst").alias("component")
        )
        roots = current.select(
            F.col("dst").alias("node"), F.col("dst").alias("component")
        )
        return (
            members.unionByName(roots)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )

    hashed = sym.select(
        F.xxhash64("src").alias("src"), F.xxhash64("dst").alias("dst")
    )
    current = _run_rounds(hashed, n_edges, max_rounds, checkpoint)
    # post-state: every edge points node_id -> hash-min component id
    assignment = (
        current.select(F.col("src").alias("id"), F.col("dst").alias("comp_id"))
        .unionByName(
            current.select(F.col("dst").alias("id"), F.col("dst").alias("comp_id"))
        )
        .groupBy("id")
        .agg(F.min("comp_id").alias("comp_id"))
    )
    # back to IRIs; component representative = lexicographic min IRI
    members = assignment.join(nodes, "id").select("iri", "comp_id")
    reps = members.groupBy("comp_id").agg(F.min("iri").alias("component"))
    return members.join(reps, "comp_id").select(
        F.col("iri").alias("node"), "component"
    )


def star_components(edges: DataFrame, *, check_invariant: bool = False) -> DataFrame:
    """Closed-form connected components for a DISJOINT-STAR edge list:
    every ``src`` is adjacent to exactly one ``dst`` hub (src appears
    with a single dst value), so each component is one hub plus its
    spokes and the O(log n) large-star/small-star rounds collapse to a
    single hub-keyed aggregation.

    Output contract is identical to :func:`connected_components`
    restricted to such graphs — (node, component) for every node,
    component = lexicographic minimum of the component — verified
    equal against the iterative operator under test. Two shuffles
    total (hub min-aggregation + the node dedupe), no rounds, no
    checkpoint, no convergence probe; this is the scale path when the
    candidate generator PROVES the star shape by construction (the KG
    pipeline's def-collision graph: def-site IRIs embed their symbol,
    so no def site can bridge two symbol hubs). For general graphs use
    :func:`connected_components`; this operator silently returns wrong
    components if a src bridges two hubs — callers own the invariant.

    ``check_invariant=True`` verifies at runtime that the edge list IS
    a disjoint star forest — i.e. no src carries more than one distinct
    dst, and no node appears on both sides (a chain like a->b, b->c,
    where the closed form would assign c the wrong component) — and
    fails the job loudly otherwise. The check is FREE of extra stages:
    it rides the final node-keyed aggregation the closed form already
    runs, carrying four cheap mergeable buffers (min/max of the node's
    dst — unequal means two hubs — and min/max of a spoke/hub role
    flag — mixed means a chain node) and asserting per output row
    (``assert_true`` in a post-aggregation filter, which Catalyst can
    neither prune nor push). A first implementation as a separate
    role-union aggregation + 1-row scalar guard cost 3 extra stages
    and +1.4 s of fixed latency on a 6.8 s pipeline job; this shape
    measures at noise level. Enable it wherever the star shape is an
    upstream-construction promise rather than a local algebraic fact
    (the KG pipeline does).

    Self-loops are dropped first, as :func:`connected_components` drops
    them: a node whose only edge is ``(x, x)`` is absent from the
    output, and a self-loop never trips the guard.
    """
    edges = edges.where(F.col("src") != F.col("dst"))
    comp = (
        edges.groupBy("dst")
        .agg(F.min("src").alias("mn"))
        .select("dst", F.least("mn", F.col("dst")).alias("component"))
    )
    if not check_invariant:
        return (
            edges.join(comp, "dst")
            .select(F.col("src").alias("node"), "component")
            .unionByName(comp.select(F.col("dst").alias("node"), "component"))
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
    dst_type = dict(edges.dtypes)["dst"]
    spokes = edges.join(comp, "dst").select(
        F.col("src").alias("node"),
        "component",
        F.col("dst").alias("_dst"),
        F.lit(1).alias("_role"),
    )
    hubs = comp.select(
        F.col("dst").alias("node"),
        "component",
        F.lit(None).cast(dst_type).alias("_dst"),
        F.lit(0).alias("_role"),
    )
    agg = (
        spokes.unionByName(hubs)
        .groupBy("node")
        .agg(
            F.min("component").alias("component"),
            F.min("_dst").alias("_d0"),
            F.max("_dst").alias("_d1"),
            F.min("_role").alias("_r0"),
            F.max("_role").alias("_r1"),
        )
    )
    violated = F.coalesce(
        (F.col("_d0") != F.col("_d1"))
        | ((F.col("_r1") == 1) & (F.col("_r0") == 0)),
        F.lit(False),
    )
    return (
        agg.where(
            F.assert_true(
                ~violated,
                F.concat(
                    F.lit(
                        "star_components: edge list is not a disjoint "
                        "star forest (a src carries >1 distinct dst, or "
                        "a node appears as both src and dst); the "
                        "closed form would return wrong components. "
                        "Use connected_components for general graphs. "
                        "node="
                    ),
                    F.col("node").cast("string"),
                ),
            ).isNull()
        )
        .select("node", "component")
    )


def label_propagation(edges: DataFrame, iterations: int = 3) -> DataFrame:
    """Synchronous label-propagation communities over an undirected edge
    frame — fixed iteration count, fully deterministic tie-breaks.

    Every node starts labeled with itself; each iteration relabels every
    node with the most frequent label among its neighbors, ties broken
    by the LEXICOGRAPHICALLY SMALLEST label (isolated update order —
    all nodes update from the previous iteration's labels
    simultaneously). Nodes with no neighbors keep their label. Fixed
    ``iterations`` + deterministic tie-break make the distributed result
    bit-identical to a declarative oracle (the DuckDB gate unrolls the
    same recurrence), which is what makes an otherwise
    update-order-sensitive heuristic oracle-gateable — same design as
    ``pagerank_int`` above.

    Scale shape: per iteration one equi-join of the (checkpointed,
    symmetrized) edge table with the label table on ``src`` + one
    two-level aggregation — groupBy (dst, label) count with map-side
    partials, then the per-dst argmax as ``min(struct(-count, label))``
    (no window sort). Lineage truncated with a lazy localCheckpoint per
    iteration.
    """
    und = _symmetrize(edges, dedup=True).localCheckpoint(eager=True)
    nodes = und.select(F.col("src").alias("node")).distinct()
    labels = nodes.withColumn("label", F.col("node")).localCheckpoint(
        eager=False
    )
    with _round_shuffles(und.sparkSession, und.count()):
        for _ in range(iterations):
            neigh = (
                und.join(
                    labels.select(
                        F.col("node").alias("src"), F.col("label")
                    ),
                    "src",
                )
                .groupBy(F.col("dst").alias("node"), "label")
                .agg(F.count(F.lit(1)).alias("cnt"))
            )
            best = neigh.groupBy("node").agg(
                F.min(
                    F.struct((-F.col("cnt")).alias("neg"), F.col("label"))
                ).getField("label").alias("new_label")
            )
            labels = (
                labels.join(best, "node", "left")
                .select(
                    "node",
                    F.coalesce(F.col("new_label"), F.col("label")).alias("label"),
                )
                .localCheckpoint(eager=False)
            )
    return labels


def cap_key_fanout(
    items: DataFrame,
    key_col: str,
    hub_cap: int = 10_000,
    *,
    node_col: "str | None" = None,
    on_exceed: str = "drop",
) -> DataFrame:
    """Guard a co-occurrence self-join against hot keys whose fan-out
    exceeds ``hub_cap``.

    The (node, key) self-join on ``key`` emits C(fanout, 2) pairs per
    key, so ONE hot key — a symbol defined in 10^4 files at 100 TB —
    contributes 5*10^7 pairs and dominates (or sinks) the whole stage.

    Fan-out is the ROW count per key by default; pass ``node_col`` to
    count DISTINCT nodes instead (the right measure when duplicate
    (node, key) rows are possible upstream — row counts would inflate
    the estimate and can over-trigger the guard).

    ``on_exceed`` picks the defense:

    * ``"drop"`` — exclude hot keys wholesale (the ``node_similarity``
      / ``ra_scores`` hub-cut contract: hot keys carry almost no
      pairwise signal since everything co-occurs with everything; a
      documented recall trade). Multiplicities of surviving rows are
      untouched, so callers counting shared keys per pair keep exact
      semantics for every surviving key.
    * ``"error"`` — MAX_*-style regime refusal: inject a runtime
      assertion (1-row broadcast cross join, same scalar-guard shape
      as the exact-cosine guard) that fails the job loudly if any key
      exceeds the cap. Use this in operators whose contract is
      EXACTNESS (oracle-gated queries): results never silently diverge
      from the closed-form oracle, and the C(fanout, 2) blow-up is
      refused before the join rather than suffered, with an error that
      routes callers to the capped/bucketed variants.

    Cost either way is one aggregation on the key plus a broadcast
    anti-join (drop) or a 1-row scalar guard (error).
    """
    fanout = (
        F.countDistinct(node_col) if node_col else F.count(F.lit(1))
    ).alias("_fanout")
    hot = (
        items.groupBy(key_col)
        .agg(fanout)
        .where(F.col("_fanout") > hub_cap)
        .select(key_col)
    )
    if on_exceed == "error":
        # The assertion lives in a FILTER on the 1-row guard side (not
        # a projected-then-dropped column, which Catalyst would prune
        # away): assert_true returns NULL when the condition holds, so
        # isNull keeps the row and the cross join is an identity; a hot
        # key raises before the probe side streams (broadcast sides
        # materialize first).
        guard = (
            hot.agg(F.count(F.lit(1)).alias("_n_hot"))
            .where(
                F.assert_true(
                    F.col("_n_hot") == 0,
                    F.concat(
                        F.lit(
                            f"cap_key_fanout: key(s) in '{key_col}' "
                            f"exceed fan-out {hub_cap}; this exact-tier "
                            "self-join would blow up as C(fanout, 2). "
                            "Use the capped (on_exceed='drop') or "
                            "bucketed (MinHash/LSH) variant for "
                            "hot-key inputs. n_hot="
                        ),
                        F.col("_n_hot").cast("string"),
                    ),
                ).isNull()
            )
            .select(F.lit(1).alias("_hub_ok"))
        )
        return items.crossJoin(F.broadcast(guard)).drop("_hub_ok")
    if on_exceed != "drop":
        raise ValueError(f"on_exceed must be 'drop' or 'error', got {on_exceed!r}")
    return items.join(F.broadcast(hot), key_col, "left_anti")


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation over an undirected edge frame —
    the degree-oriented wedge join (Suri & Vassilvitskii, "Counting
    Triangles and the Curse of the Last Reducer", WWW'11).

    ``edges (src, dst)`` is treated as undirected; self-loops and
    duplicates are dropped. Returns ``(node, triangles)`` for every node
    in at least one triangle.

    Scale shape: each undirected edge is oriented from its
    lower-(degree, id) endpoint to the higher one, so every node's
    out-degree is O(sqrt(E)) regardless of how skewed the real degree
    distribution is — the wedge self-join (two out-edges sharing a
    source) is therefore bounded by E^{3/2} total work instead of
    sum(deg^2), which is what makes the hub-node "last reducer" problem
    disappear at web scale. Three shuffles total: degree aggregation,
    wedge self-join on the oriented source, and the closing equi-join of
    wedges against the canonical edge set. No counterpart in the
    reference (graph analytics over the constructed KG, SURVEY.md §2.9
    family)."""
    # The canonical edge set feeds four consumers (both degree branches,
    # the orientation join, and the closing join) — checkpoint it so the
    # upstream derivation runs once, not once per consumer subtree (the
    # same lineage treatment as the CC rounds above). ``deg`` likewise
    # joins twice; a lazy checkpoint materializes it on first use.
    und = (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=False)
    )
    with_deg = (
        und.join(deg.select(F.col("node").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")), "v")
    )
    lo_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = with_deg.select(
        F.when(lo_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(lo_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )
    wedges = (
        oriented.alias("e1")
        .join(
            oriented.alias("e2"),
            (F.col("e1.src") == F.col("e2.src"))
            & (F.col("e1.dst") < F.col("e2.dst")),
        )
        .select(
            F.col("e1.src").alias("a"),
            F.col("e1.dst").alias("b"),
            F.col("e2.dst").alias("c"),
        )
    )
    # b < c in node-id order by construction, matching und's (u < v)
    # canonical form, so one equi-join closes the wedge
    triangles = wedges.join(
        und, (F.col("b") == F.col("u")) & (F.col("c") == F.col("v"))
    ).select("a", "b", "c")
    return (
        triangles.select(
            F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("triangles"))
    )


def sssp_int(
    edges: DataFrame, sources: DataFrame, rounds: int = 8
) -> DataFrame:
    """Fixed-round Bellman-Ford over a directed, integer-weighted edge
    frame ``(src, dst, w)``: minimum path cost from a source node set
    ``(node)``. Returns ``(node, dist)`` for every node reachable within
    ``rounds`` relaxations (sources at distance 0).

    Integer weights + a fixed round count make the iterative relaxation
    bit-identical to a declarative oracle (the DuckDB gate unrolls the
    same min-union recurrence) — same determinism design as
    ``pagerank_int``. ``rounds`` bounds path length in EDGES; a path
    using more than ``rounds`` edges is not discovered, which is part of
    the operator contract (pick rounds >= graph diameter for the exact
    fixpoint; one extra round being a no-op is asserted in tests).

    Scale shape: per round one equi-join of the (checkpointed) edge
    table with the current distance table on ``src`` + one min-
    aggregation with map-side partials. Unlike the BFS in
    ``bfs_reachable``, already-reached nodes CAN improve (cheaper path,
    more hops), so the aggregation runs over reached ∪ relaxed rather
    than frontier-only; lineage truncated per round with a lazy
    ``localCheckpoint``.
    """
    e = (
        edges.select("src", "dst", F.col("w").cast("long").alias("w"))
        .where(F.col("src") != F.col("dst"))
        .localCheckpoint(eager=True)
    )
    dist = (
        sources.select("node", F.lit(0).cast("long").alias("dist"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    with _round_shuffles(e.sparkSession, e.count()):
        for _ in range(rounds):
            relaxed = e.join(
                dist.withColumnRenamed("node", "src"), "src"
            ).select(
                F.col("dst").alias("node"),
                (F.col("dist") + F.col("w")).alias("dist"),
            )
            dist = (
                dist.unionByName(relaxed)
                .groupBy("node")
                .agg(F.min("dist").alias("dist"))
                .localCheckpoint(eager=False)
            )
    return dist


def kcore(edges: DataFrame, k: int = 2, rounds: int = 4) -> DataFrame:
    """Fixed-round k-core peeling over an undirected edge frame: per
    round, drop every node whose surviving degree is below ``k`` and
    every edge touching a dropped node. Returns ``(node, deg)`` for the
    nodes still alive after ``rounds`` rounds, with their degree over
    the surviving edge set.

    A fixed round count (instead of peel-to-fixpoint) is what makes the
    iterative algorithm oracle-gateable — the DuckDB gate unrolls the
    identical recurrence — same design as ``pagerank_int`` /
    ``label_propagation`` above. Peeling converges geometrically on
    real degree distributions; callers needing the exact core pick
    ``rounds`` so that one extra round is a no-op (asserted in tests).

    Scale shape: per round one degree aggregation (map-side partial
    count over the symmetrized edges) + two semi-joins of the edge set
    against the surviving-node set. The survivor set shrinks
    monotonically, so AQE broadcasts it once peeling bites; lineage is
    truncated per round with a lazy ``localCheckpoint``. No counterpart
    in the reference (graph analytics over the constructed KG,
    SURVEY.md §2.9 family).
    """
    und = _symmetrize(edges, dedup=True).localCheckpoint(eager=True)
    with _round_shuffles(und.sparkSession, und.count()):
        for _ in range(rounds):
            deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
            alive = deg.where(F.col("deg") >= k).select("src")
            und = (
                und.join(alive, "src", "semi")
                .join(alive.withColumnRenamed("src", "dst"), "dst", "semi")
                .select("src", "dst")
                .localCheckpoint(eager=False)
            )
        return (
            und.groupBy(F.col("src").alias("node"))
            .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        )


def bfs_reachable(
    edges: DataFrame,
    sources: DataFrame,
    max_depth: int = 6,
) -> DataFrame:
    """Bounded-depth BFS over a directed edge DataFrame ``(src, dst)``:
    min-hop distance from a source node set — the distributed form of a
    SPARQL property-path query (``?s pred{0,k} ?o``).

    ``sources`` is a one-column DataFrame ``(node)``. Returns
    ``(node, depth)`` where ``depth`` is the minimum number of hops
    (sources at depth 0); nodes farther than ``max_depth`` are absent.
    Because the frontier only ever expands into *unvisited* nodes, the
    first depth at which a node appears is its minimum distance — no
    min-aggregation pass is needed.

    Scale shape: per round one equi-join of the edge table with the
    current frontier on ``src`` (frontier is the small side — AQE
    broadcasts it while it fits, so expansion adds no shuffle on the
    edge side) + one distinct + one left-anti join against the visited
    set. One action per round for the emptiness test; lineage truncated
    with ``localCheckpoint`` per round, as in the CC loop above.
    """
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    reached = (
        sources.select(F.col("node"), F.lit(0).cast("long").alias("depth"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    frontier = reached.select("node")
    with _round_shuffles(e.sparkSession, e.count()):
        for depth in range(1, max_depth + 1):
            # Lazy checkpoint + count(): ONE job per round materializes the
            # frontier AND answers the emptiness test (an eager checkpoint
            # followed by count() would schedule two).
            nxt = (
                e.join(frontier.withColumnRenamed("node", "src"), "src")
                .select(F.col("dst").alias("node"))
                .distinct()
                .join(reached.select("node"), "node", "left_anti")
                .select("node", F.lit(depth).cast("long").alias("depth"))
                .localCheckpoint(eager=False)
            )
            if nxt.count() == 0:
                break
            reached = reached.unionByName(nxt).localCheckpoint(eager=False)
            frontier = nxt.select("node")
    return reached


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Per-node local clustering coefficient over an undirected edge
    frame: coeff = 2*T / (d*(d-1)) with T the node's triangle count and
    d its degree — the standard graph-density feature next to
    :func:`triangle_count` (which provides T via the degree-oriented
    wedge join). Integer-exact: floor-scaled x10000, so the oracle
    compares bit-for-bit. Nodes of degree < 2 have no defined
    coefficient and are absent by contract.

    Scale shape: degree is one map-side-combined aggregation over the
    canonical edge set; the expensive part is triangle_count's bounded
    wedge join (E^{3/2}); the final join is degree-frame x triangle
    frame on node.
    """
    und = (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    tri = triangle_count(
        und.select(F.col("u").alias("src"), F.col("v").alias("dst"))
    )
    return (
        deg.join(tri, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias("triangles"),
            F.expr(
                "(2 * coalesce(triangles, 0) * 10000)"
                " div (degree * (degree - 1))"
            ).alias("coeff_x10000"),
        )
        .where(F.col("degree") >= 2)
    )


def multi_source_bfs(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int = 4,
) -> DataFrame:
    """Bounded-depth BFS from MANY seeds at once over a directed edge
    frame ``(src, dst)``: min-hop distance per (seed, node) pair.

    ``seeds`` is a one-column DataFrame ``(seed)``. Returns
    ``(seed, node, depth)`` with depth 0 for the seed itself; (seed,
    node) pairs farther than ``max_depth`` are absent. The frontier is
    keyed by (seed, node), so ALL seeds advance in the same per-round
    edge join — k seeds cost one BFS's round count, not k of them
    (state is O(sum of reach sets), the standard labeled-BFS trade).
    Same per-round shape as :func:`bfs_reachable`: one equi-join on
    ``src`` + distinct + left-anti against the visited pairs, one job
    per round (lazy checkpoint materialized by the emptiness count).
    """
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    reached = (
        seeds.select(
            F.col("seed"),
            F.col("seed").alias("node"),
            F.lit(0).cast("long").alias("depth"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    frontier = reached.select("seed", "node")
    with _round_shuffles(e.sparkSession, e.count()):
        for depth in range(1, max_depth + 1):
            nxt = (
                e.join(frontier.withColumnRenamed("node", "src"), "src")
                .select("seed", F.col("dst").alias("node"))
                .distinct()
                .join(reached.select("seed", "node"), ["seed", "node"], "left_anti")
                .select(
                    "seed", "node", F.lit(depth).cast("long").alias("depth")
                )
                .localCheckpoint(eager=False)
            )
            if nxt.count() == 0:
                break
            reached = reached.unionByName(nxt).localCheckpoint(eager=False)
            frontier = nxt.select("seed", "node")
    return reached


def closeness_centrality(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int = 4,
    scale: int = 10**6,
) -> DataFrame:
    """Bounded-depth closeness centrality for a seed set: per seed the
    number of nodes within ``max_depth`` hops (excluding itself) and the
    integer-scaled harmonic-free closeness ``n_reached * scale div
    sum_dist`` (Wasserman-Faust without the component normalization —
    the bounded-reach variant that stays computable on one BFS).
    Integer division keeps the score engine-portable. Seeds reaching
    nothing are absent (closeness undefined).

    Scale shape: :func:`multi_source_bfs` (k seeds, one labeled BFS) +
    one map-side-combined aggregation over the reach pairs.
    """
    dist = multi_source_bfs(edges, seeds, max_depth=max_depth)
    return (
        dist.where(F.col("depth") > 0)
        .groupBy(F.col("seed").alias("node"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_reached"),
            F.sum("depth").cast("long").alias("sum_dist"),
        )
        .select(
            "node",
            "n_reached",
            "sum_dist",
            F.expr(f"n_reached * {scale} div sum_dist").alias("closeness_x1e6"),
        )
    )


def ra_scores(
    edges: DataFrame,
    min_shared: int = 2,
    hub_cap: int | None = None,
    scale: int = 10**6,
) -> DataFrame:
    """Resource-Allocation link-prediction index: for node pairs
    sharing out-neighbors, RA(a,b) = sum over shared z of 1/indeg(z) —
    here the integer-exact ``scale div indeg(z)``, so the score (unlike
    Adamic-Adar's 1/log deg, which needs floats) is bit-portable and
    the oracle reproduces it. Rare shared neighbors score high; hubs
    contribute ~nothing — the built-in down-weighting that plain
    shared-neighbor counting (node_similarity) lacks.

    Candidates come from ONE self-equi-join on the shared neighbor
    (never all-pairs) with the same optional ``hub_cap`` cut as
    node_similarity — consistent recall trade, documented there.

    Returns (a, b, shared, ra_score) for a < b with >= min_shared
    common out-neighbors.
    """
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    if hub_cap is not None:
        indeg_all = e.groupBy("dst").agg(F.count(F.lit(1)).alias("indeg"))
        hubs = indeg_all.where(F.col("indeg") > hub_cap).select("dst")
        e = e.join(F.broadcast(hubs), "dst", "left_anti")
    e = e.localCheckpoint(eager=True)
    # rename the key: indeg shares lineage with e, so an un-renamed
    # `dst` would be ambiguous after the x/y self-join
    indeg = (
        e.groupBy("dst")
        .agg(F.count(F.lit(1)).cast("long").alias("indeg"))
        .select(F.col("dst").alias("zdst"), "indeg")
    )
    return (
        e.alias("x")
        .join(
            e.alias("y"),
            (F.col("x.dst") == F.col("y.dst")) & (F.col("x.src") < F.col("y.src")),
        )
        .join(indeg, F.col("x.dst") == F.col("zdst"))
        .groupBy(F.col("x.src").alias("a"), F.col("y.src").alias("b"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("shared"),
            F.sum(F.expr(f"{scale} div indeg")).cast("long").alias("ra_score"),
        )
        .where(F.col("shared") >= min_shared)
    )


def node_similarity(
    edges: DataFrame,
    min_shared: int = 2,
    hub_cap: int | None = None,
    scale: int = 10_000,
) -> DataFrame:
    """Pairwise out-neighborhood Jaccard similarity — the graph-side
    entity-resolution / link-prediction primitive ("these two files
    import almost the same modules").

    Returns (a, b, shared, deg_a, deg_b, jaccard_x10000) for ordered
    pairs a < b with at least ``min_shared`` common out-neighbors;
    jaccard_x10000 = shared * scale div (deg_a + deg_b - shared) —
    integer division, engine-portable.

    Scale shape: candidates come from ONE self-equi-join on the shared
    neighbor (never all-pairs), so cost is sum over neighbors of
    indeg^2. That sum is dominated by hub neighbors (a module imported
    by everyone pairs all its importers); ``hub_cap`` excludes
    neighbors with in-degree > cap from candidate generation — the
    standard web-scale cut (a neighbor shared by 10^5 nodes carries no
    similarity signal, exactly like a stopword in text dedup). With a
    cap the result under-counts `shared` for pairs that only meet at
    hubs — a documented recall trade; the driver-gated query runs
    uncapped so the oracle is exact.
    """
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    if hub_cap is not None:
        indeg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("indeg"))
        hubs = indeg.where(F.col("indeg") > hub_cap).select("dst")
        e = e.join(F.broadcast(hubs), "dst", "left_anti")
    e = e.localCheckpoint(eager=True)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    shared = (
        e.alias("x")
        .join(
            e.alias("y"),
            (F.col("x.dst") == F.col("y.dst")) & (F.col("x.src") < F.col("y.src")),
        )
        .groupBy(
            F.col("x.src").alias("a"), F.col("y.src").alias("b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
        .where(F.col("shared") >= min_shared)
    )
    return (
        shared.join(deg.withColumnRenamed("src", "a").withColumnRenamed("deg", "deg_a"), "a")
        .join(deg.withColumnRenamed("src", "b").withColumnRenamed("deg", "deg_b"), "b")
        .select(
            "a",
            "b",
            "shared",
            "deg_a",
            "deg_b",
            F.expr(
                f"shared * {scale} div (deg_a + deg_b - shared)"
            ).alias("jaccard_x10000"),
        )
    )


def graph_walks(
    edges: DataFrame,
    walk_len: int = 4,
    salt: str = "walk",
) -> DataFrame:
    """Deterministic hash-seeded random walks — the corpus-prep operator
    for DeepWalk/node2vec-style graph embeddings, made reproducible
    (and oracle-computable) by replacing the RNG with a content hash:
    from node v at step k the walk moves to neighbor with 1-based rank
    ``1 + H(seed:k:v) % outdeg(v)`` where neighbors are ranked by dst
    ascending and H is the portable sha-derived 60-bit hash
    (functions/text.py::hex_hash). One walk starts from every node with
    at least one out-edge; a walk ends early at a sink node.

    Returns (seed, step, node): step 0 is the seed itself.

    Scale shape: the adjacency (dst-ranked, outdeg attached) is built
    once with one window pass and checkpointed; each of the
    ``walk_len`` steps is ONE equi-join of the frontier against it —
    k-step walks over E edges cost k joins, never a closure. Identical
    recurrence is expressible as unrolled SQL joins, which is what the
    driver oracle runs.
    """
    from pyspark.sql.window import Window

    from pyjelly_spark.functions.text import hex_hash

    e = edges.select("src", "dst").distinct()
    w = Window.partitionBy("src").orderBy("dst")
    adj = (
        e.select(
            "src",
            "dst",
            F.row_number().over(w).cast("long").alias("r"),
            F.count(F.lit(1)).over(Window.partitionBy("src")).cast("long").alias("outdeg"),
        )
        .localCheckpoint(eager=True)
    )
    frontier = adj.select(F.col("src").alias("seed")).distinct().select(
        "seed", F.lit(0).cast("long").alias("step"), F.col("seed").alias("node")
    )
    out = [frontier]
    for k in range(1, walk_len + 1):
        pick = hex_hash(
            F.concat(
                F.lit(salt + ":"), F.col("seed"), F.lit(f":{k}:"), F.col("node")
            )
        )
        nxt = (
            out[-1]
            .join(adj, F.col("node") == F.col("src"))
            .where(F.col("r") == 1 + F.pmod(pick, F.col("outdeg")))
            .select(
                "seed",
                F.lit(k).cast("long").alias("step"),
                F.col("dst").alias("node"),
            )
            # per-step lineage truncation: without it, the k-th union
            # branch re-plans (and re-executes) the whole k-1 prefix
            # chain — O(k^2) joins for a k-step walk. Checkpointing each
            # frontier keeps it at one join per step (CC-round style),
            # which is what lets real node2vec walk lengths (k ~ 80)
            # stay linear.
            .localCheckpoint(eager=True)
        )
        out.append(nxt)
    result = out[0]
    for part in out[1:]:
        result = result.unionByName(part)
    return result


def skipgram_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """Skip-gram (center, context) pair counts from a walk corpus —
    the training-pair step that follows ``graph_walks`` in a
    DeepWalk/node2vec embedding pipeline: within each walk, every
    ordered node pair at step distance 1..``window`` is one training
    example, and the output is the global pair histogram
    (center, context, cnt).

    Scale shape: pairs are emitted with ``lead()`` over ONE window
    spec (partitionBy seed, orderBy step) — both directions of every
    offset derive in-row from the same sort, so there is no self-join
    over the walk corpus and no pair-stream shuffle; the only exchange
    beyond the walk sort is the final (center, context) count, whose
    keys are nodes (bounded fan-in per key at any corpus size).
    """
    w = Window.partitionBy("seed").orderBy("step")
    leads = walks.select(
        "node",
        *[F.lead("node", d).over(w).alias(f"ahead_{d}") for d in range(1, window + 1)],
    )
    cols = []
    for d in range(1, window + 1):
        ahead = F.col(f"ahead_{d}")
        cols.append(F.struct(F.col("node").alias("center"), ahead.alias("context")))
        cols.append(F.struct(ahead.alias("center"), F.col("node").alias("context")))
    return (
        leads.select(F.explode(F.array(*cols)).alias("p"))
        .select("p.center", "p.context")
        .where(F.col("context").isNotNull() & F.col("center").isNotNull())
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def negative_samples(edges: DataFrame, k: int = 2, salt: str = "neg") -> DataFrame:
    """Deterministic negative sampling for link-prediction training:
    for every positive edge, ``k`` corrupted tails drawn by content
    hash over a global node dictionary — the (src, dst, j, neg_node)
    stream that pairs with ``skipgram_pairs`` output to train graph
    embeddings. The hash replaces the RNG (same device as
    ``graph_walks``), so the sample is a pure function of the graph and
    reproducible on any engine/cluster size; accidental positives are
    kept (standard practice — they are rare and unbiased) so the
    output needs no membership join.

    Scale shape: the node dictionary is ONE global sort (row_number
    over the distinct node set — the same static dictionary an
    embedding trainer builds anyway); sample rows then join the
    dictionary by index, an equi-join on a uniformly distributed key.
    """
    from pyjelly_spark.functions.text import hex_hash
    from pyspark.sql.window import Window

    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    dict_df = nodes.select(
        "node",
        (F.row_number().over(Window.orderBy("node")) - 1).cast("long").alias("idx"),
    )
    n_nodes = dict_df.count()
    # one explode over the j values instead of k union branches: the
    # edge derivation plans (and scans) once, not k times
    one = edges.select("src", "dst").distinct().select(
        "src",
        "dst",
        F.explode(F.array(*[F.lit(j).cast("long") for j in range(1, k + 1)])).alias("j"),
    )
    pick = F.pmod(
        hex_hash(
            F.concat(
                F.lit(salt + ":"), F.col("j").cast("string"), F.lit(":"),
                F.col("src"), F.lit(":"), F.col("dst"),
            )
        ),
        F.lit(n_nodes),
    )
    samples = one.select("src", "dst", "j", pick.alias("idx"))
    return (
        samples.join(dict_df, "idx")
        .select("src", "dst", "j", F.col("node").alias("neg_node"))
    )


def truss_edges(
    edges: DataFrame, k: int = 4, max_rounds: int = 10
) -> DataFrame:
    """k-truss decomposition: the maximal subgraph where every edge
    closes at least ``k - 2`` triangles — the standard cohesive-
    subgraph refinement of triangle counting (denser than k-core,
    cheaper than cliques). Iterative support peeling: count per-edge
    triangle support over the CURRENT edge set, drop edges below
    ``k - 2``, repeat to fixpoint.

    Returns the surviving undirected edges (u < v) with their final
    support.

    Scale shape: triangle enumeration per round reuses the
    degree-oriented wedge join (Suri & Vassilvitskii — every node's
    oriented out-degree is O(sqrt(E)), so hub wedges never explode);
    support is one exploded groupBy over the triangle stream; each
    round localCheckpoints the shrinking edge set (CC-round lineage
    treatment). Rounds are O(peeling depth), small on real graphs.
    """
    und = (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        n_before = und.count()
        if n_before == 0:
            break
        deg = (
            und.select(F.col("u").alias("node"))
            .unionByName(und.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        # orient every edge from its lower-(deg, id) endpoint
        wd = (
            und.join(deg.withColumnRenamed("node", "u").withColumnRenamed("deg", "du"), "u")
            .join(deg.withColumnRenamed("node", "v").withColumnRenamed("deg", "dv"), "v")
        )
        lo_is_u = (F.col("du") < F.col("dv")) | (
            (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
        )
        oriented = wd.select(
            F.when(lo_is_u, F.col("u")).otherwise(F.col("v")).alias("x"),
            F.when(lo_is_u, F.col("v")).otherwise(F.col("u")).alias("y"),
        ).localCheckpoint(eager=True)
        w1 = oriented.select(F.col("x"), F.col("y").alias("a"))
        w2 = oriented.select(F.col("x"), F.col("y").alias("b"))
        wedges = w1.join(w2, "x").where(F.col("a") < F.col("b"))
        tri = wedges.join(
            und.select(
                F.col("u").alias("a2"), F.col("v").alias("b2")
            ),
            (F.least("a", "b") == F.col("a2")) & (F.greatest("a", "b") == F.col("b2")),
        ).select("x", "a", "b")
        tri_edges = tri.select(
            F.explode(
                F.array(
                    F.struct(
                        F.least("x", "a").alias("u"), F.greatest("x", "a").alias("v")
                    ),
                    F.struct(
                        F.least("x", "b").alias("u"), F.greatest("x", "b").alias("v")
                    ),
                    F.struct(
                        F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
                    ),
                )
            ).alias("e")
        ).select("e.u", "e.v")
        sup = tri_edges.groupBy("u", "v").agg(
            F.count(F.lit(1)).cast("long").alias("support")
        )
        nxt = (
            und.join(sup, ["u", "v"], "left")
            .where(F.coalesce(F.col("support"), F.lit(0)) >= k - 2)
            .select("u", "v", F.coalesce(F.col("support"), F.lit(0)).alias("support"))
            .localCheckpoint(eager=True)
        )
        if nxt.count() == n_before:
            return nxt.select("u", "v", "support")
        und = nxt.select("u", "v").localCheckpoint(eager=True)
    # empty fixpoint, or max_rounds exhausted: support over the final set
    return _final_truss_support(und, k)


def _final_truss_support(und: DataFrame, k: int) -> DataFrame:
    """Support over a stable edge set (helper for the rounds-exhausted
    path; identical math to one truss round without the filter)."""
    e1 = und.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = und.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = und.select(F.col("u").alias("a2"), F.col("v").alias("c2"))
    tri = (
        e1.join(e2, "b")
        .join(e3, (F.col("a") == F.col("a2")) & (F.col("c") == F.col("c2")))
        .select("a", "b", "c")
    )
    tri_edges = tri.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
                F.struct(F.col("b").alias("u"), F.col("c").alias("v")),
                F.struct(F.col("a").alias("u"), F.col("c").alias("v")),
            )
        ).alias("e")
    ).select("e.u", "e.v")
    sup = tri_edges.groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("long").alias("support")
    )
    return und.join(sup, ["u", "v"], "left").select(
        "u", "v", F.coalesce(F.col("support"), F.lit(0)).alias("support")
    )


def boruvka_msf(
    edges: DataFrame,
    max_rounds: int = 12,
) -> DataFrame:
    """Distributed Borůvka minimum spanning forest over weighted
    undirected edges (s, t, w — one row per edge, s != t).

    Classic Borůvka: every component selects its minimum outgoing edge
    under the deterministic total order (w, s, t) (so ties cannot form
    a cycle), selected edges merge components, repeat — O(log V)
    rounds. The per-round contraction exploits that the selected
    component graph is a PSEUDOFOREST (one out-edge per component):
    the unique 2-cycle of every pseudotree is the cluster's minimum
    edge (both endpoints pick it), so roots are the mutual pairs and
    plain pointer-jumping (p <- p∘p on a table bounded by the CURRENT
    component count, shrinking geometrically) resolves every chain in
    O(log chain) tiny self-joins — no generic CC machinery inside the
    loop. The dominant per-round cost is the one partial-aggregated
    min-edge groupBy over the edge set. Interior labels are arbitrary
    cluster ids; a single end relabel (min node per final cluster)
    restores the canonical representative. With distinct weights the
    MSF is unique, which is what makes the result checkable against a
    sequential oracle.

    Returns one row per tree edge (s < t canonicalized): (s, t, w,
    comp) with comp = the component's minimum node id.
    """
    und = edges.selectExpr(
        "least(s, t) as s", "greatest(s, t) as t", "w"
    ).distinct()
    comp = (
        und.select(F.col("s").alias("node"))
        .unionByName(und.select(F.col("t").alias("node")))
        .distinct()
        .select("node", F.col("node").alias("comp"))
        .localCheckpoint(eager=True)
    )
    forest = None
    for _ in range(max_rounds):
        lab = (
            und.join(
                comp.select(F.col("node").alias("s"), F.col("comp").alias("cs")),
                "s",
            )
            .join(
                comp.select(F.col("node").alias("t"), F.col("comp").alias("ct")),
                "t",
            )
            .where(F.col("cs") != F.col("ct"))
        )
        cand = lab.select(
            F.col("cs").alias("c"), F.col("ct").alias("d"), "s", "t", "w"
        ).unionByName(
            lab.select(F.col("ct").alias("c"), F.col("cs").alias("d"), "s", "t", "w")
        )
        sel = (
            cand.groupBy("c")
            .agg(F.min(F.struct("w", "s", "t", "d")).alias("m"))
            .select("c", F.col("m.d").alias("p"), "m.s", "m.t", "m.w")
            .localCheckpoint(eager=True)
        )
        if sel.isEmpty():
            break
        newf = sel.select("s", "t", "w").distinct()
        forest = newf if forest is None else forest.unionByName(newf)
        # contract the selected pseudoforest: mutual pairs are roots
        p = sel.select("c", "p")
        pb = p.selectExpr("c as p", "p as pp")
        p = (
            p.join(pb, "p")
            .select(
                "c",
                F.when(F.col("pp") == F.col("c"), F.least("c", "p"))
                .otherwise(F.col("p"))
                .alias("p"),
            )
            .localCheckpoint(eager=True)
        )
        # pointer-jump: after j doublings p covers chains of length 2^j.
        # Two jumps per convergence probe keeps the action count low;
        # lineage stays shallow (a handful of joins), so no per-jump
        # checkpoint is needed.
        while True:
            nxt = p
            for _j in range(2):
                nxt = (
                    nxt.alias("a")
                    .join(
                        nxt.selectExpr("c as p", "p as pj").alias("b"),
                        "p",
                        "left",
                    )
                    .select("c", F.coalesce("pj", "p").alias("p"))
                )
            nxt = nxt.localCheckpoint(eager=True)
            done = (
                nxt.alias("n")
                .join(p.alias("o"), "c")
                .where(F.col("n.p") != F.col("o.p"))
                .isEmpty()
            )
            p = nxt
            if done:
                break
        comp = (
            comp.join(
                p.selectExpr("c as comp", "p as newc"), "comp", "left"
            )
            .select("node", F.coalesce("newc", "comp").alias("comp"))
            .localCheckpoint(eager=True)
        )
    if forest is None:
        return und.limit(0).select(
            "s", "t", "w", F.lit(None).cast("long").alias("comp")
        )
    # canonical representative: min node per final cluster
    rep = comp.groupBy("comp").agg(F.min("node").alias("rep"))
    relabel = comp.join(rep, "comp").select("node", F.col("rep").alias("comp"))
    return forest.distinct().join(
        relabel.selectExpr("node as s", "comp"), "s"
    ).select("s", "t", "w", "comp")


def densest_subgraph_peel(
    edges: DataFrame,
    max_rounds: int = 30,
) -> list:
    """Bahmani-et-al parallel peeling for the densest subgraph
    (2(1+eps)-approx, eps = 1/2): each round computes node degrees,
    removes EVERY node with deg * V <= 3 * E (an exact integer
    comparison — no float density ever), and records the round's
    (V, E, node-id checksum) BEFORE peeling. V provably shrinks by a
    (1+eps) factor per round, so O(log V) rounds empty the graph and
    the densest round (exact rational compare, earliest wins) is a
    2(1+eps) approximation of the optimum — the MapReduce densest-
    subgraph algorithm, verbatim in DataFrame ops.

    Per-round driver state is three scalars (V, E, checksum): the
    collect is metadata-sized at any graph scale; edges and degrees
    stay distributed throughout (one groupBy + one semi-join per
    round).

    Returns the per-round stats list [(round, v, e, chk), ...].
    """
    g = (
        edges.selectExpr("least(s, t) as s", "greatest(s, t) as t")
        .where(F.col("s") != F.col("t"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    stats = []
    for r in range(1, max_rounds + 1):
        nodes = (
            g.select(F.col("s").alias("v"))
            .unionByName(g.select(F.col("t").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        agg = nodes.agg(
            F.count(F.lit(1)).alias("nv"),
            F.sum("deg").alias("deg_sum"),
            F.sum("v").alias("chk"),
        ).collect()[0]
        nv = agg["nv"]
        if not nv:
            break
        ne = agg["deg_sum"] // 2
        stats.append((r, int(nv), int(ne), int(agg["chk"])))
        keep = nodes.where(F.col("deg") * nv > 3 * ne).select("v")
        g = (
            g.join(keep.selectExpr("v as s"), "s", "left_semi")
            .join(keep.selectExpr("v as t"), "t", "left_semi")
            .select("s", "t")
            .localCheckpoint(eager=True)
        )
    return stats


def local_dominant_matching(
    edges: DataFrame,
    max_rounds: int = 20,
) -> DataFrame:
    """Distributed maximal matching by local dominance (Hoepman /
    Manne-Bisseling): every node nominates its minimum incident edge
    under the total order (w, s, t); an edge nominated by BOTH
    endpoints is locally dominant — no lighter edge touches it — so
    all dominant edges can be matched simultaneously without
    conflicts. Matched nodes leave, repeat. Each surviving component's
    minimum edge is always dominant, so the loop strictly progresses
    and empties in O(log n) rounds on hash weights; the result is a
    MAXIMAL matching (no augmenting of single edges possible), the
    standard distributed building block for coarsening/scheduling.

    Each round is two partial-aggregated groupBys (per-node min, then
    mutual check) and one semi-join removal — no generic CC, no
    global structure. Deterministic on any partitioning, so the exact
    matched edge set is oracle-checkable.

    Returns the matched edges (s < t canonicalized): (s, t, w).
    """
    g = (
        edges.selectExpr("least(s, t) as s", "greatest(s, t) as t", "w")
        .where(F.col("s") != F.col("t"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    matched = None
    for _ in range(max_rounds):
        if g.isEmpty():
            break
        inc = g.select(F.col("s").alias("v"), "s", "t", "w").unionByName(
            g.select(F.col("t").alias("v"), "s", "t", "w")
        )
        nom = (
            inc.groupBy("v")
            .agg(F.min(F.struct("w", "s", "t")).alias("m"))
            .select("m.s", "m.t", "m.w")
        )
        dom = (
            nom.groupBy("s", "t", "w")
            .agg(F.count(F.lit(1)).alias("k"))
            .where(F.col("k") == 2)
            .select("s", "t", "w")
            .localCheckpoint(eager=True)
        )
        matched = dom if matched is None else matched.unionByName(dom)
        gone = dom.select(F.col("s").alias("v")).unionByName(
            dom.select(F.col("t").alias("v"))
        ).distinct()
        g = (
            g.join(gone.selectExpr("v as s"), "s", "left_anti")
            .join(gone.selectExpr("v as t"), "t", "left_anti")
            .select("s", "t", "w")
            .localCheckpoint(eager=True)
        )
    if matched is None:
        return g.limit(0)
    return matched


def root_distance_doubling(
    nodes: DataFrame,
    max_jumps: int = 40,
) -> DataFrame:
    """Root distance in a forest by ADDITIVE pointer doubling.

    Input: (node, parent, dur) with parent NULL at roots. Maintains
    per node (ptr, acc) where acc = sum of durations of the ancestors
    consumed so far; each jump composes the pointer with itself
    (ptr <- ptr(ptr), acc <- acc + acc(ptr)), so an O(depth) chain
    walk becomes O(log depth) self-joins — the same doubling the CC
    machinery uses, on the (+, 0) semiring instead of (min, inf).
    Roots self-point with acc 0, which makes composition idempotent at
    convergence (checked with one tiny inequality probe per round).

    Returns (node, root, root_dist) with root_dist = dur(node) + sum
    of ancestor durations — the per-span end-to-end latency of a trace
    tree, computed without recursion.
    """
    state = nodes.select(
        "node",
        F.coalesce("parent", "node").alias("ptr"),
        F.when(F.col("parent").isNull(), F.lit(0))
        .otherwise(F.col("dur"))
        .alias("self_dur"),
        F.lit(0).cast("long").alias("acc"),
    ).localCheckpoint(eager=True)
    # acc accumulates durations of PROPER ancestors (excluding self)
    anc_dur = nodes.select(
        F.col("node").alias("ptr"), F.col("dur").alias("ptr_dur")
    )
    state = (
        state.join(anc_dur, "ptr")
        .select(
            "node",
            "ptr",
            F.when(F.col("ptr") == F.col("node"), F.lit(0))
            .otherwise(F.col("ptr_dur"))
            .cast("long")
            .alias("acc"),
        )
        .localCheckpoint(eager=True)
    )
    jump_src = nodes.select(
        F.col("node").alias("ptr"),
        F.coalesce("parent", "node").alias("pp"),
    )
    for _ in range(max_jumps):
        nxt = (
            state.alias("a")
            .join(
                state.selectExpr(
                    "node as ptr", "ptr as pptr", "acc as pacc"
                ).alias("b"),
                "ptr",
            )
            .select(
                "node",
                F.col("pptr").alias("ptr"),
                (F.col("acc") + F.col("pacc")).cast("long").alias("acc"),
            )
            .localCheckpoint(eager=True)
        )
        moved = not (
            nxt.alias("n")
            .join(state.alias("o"), "node")
            .where(F.col("n.ptr") != F.col("o.ptr"))
            .isEmpty()
        )
        state = nxt
        if not moved:
            break
    return state.join(
        nodes.select("node", "dur"), "node"
    ).select(
        "node",
        F.col("ptr").alias("root"),
        (F.col("dur") + F.col("acc")).cast("long").alias("root_dist"),
    )


def luby_mis(
    edges: DataFrame,
    max_rounds: int = 30,
) -> DataFrame:
    """Maximal independent set by Luby's algorithm with DETERMINISTIC
    priorities: each round, a surviving node enters the MIS iff its
    (priority, id) pair is a strict local minimum among surviving
    neighbors; the MIS nodes and their neighbors leave. Hash
    priorities make every round a pure function of the input — same
    O(log n) expected rounds as random Luby, but engine-checkable
    bit-for-bit. Each round is one neighbor-min groupBy + two
    semi/anti joins; isolated-by-removal nodes self-select in a later
    round, so the result is maximal.

    Input: (s, t, p_s, p_t ignored) — actually (s, t) edges plus a
    ``prio`` map is derived internally from sha-60 of the node id.
    Returns (node, round) for every MIS member.
    """
    und = (
        edges.selectExpr("s", "t")
        .where(F.col("s") != F.col("t"))
        .select(
            F.least("s", "t").alias("s"), F.greatest("s", "t").alias("t")
        )
        .distinct()
    )
    sym = und.unionByName(und.selectExpr("t as s", "s as t"))
    prio = (
        sym.select(F.col("s").alias("node"))
        .distinct()
        .select(
            "node",
            F.expr(
                "cast(conv(substring(sha2(cast(node as string), 256), 1, 15),"
                " 16, 10) as bigint)"
            ).alias("p"),
        )
        .localCheckpoint(eager=True)
    )
    live_edges = sym.localCheckpoint(eager=True)
    live_nodes = prio
    out = []
    for rnd in range(1, max_rounds + 1):
        if live_nodes.isEmpty():
            break
        nbr_min = (
            live_edges.join(
                live_nodes.selectExpr("node as t", "p as pt"), "t"
            )
            .groupBy("s")
            .agg(F.min(F.struct(F.col("pt"), F.col("t"))).alias("m"))
            .selectExpr("s as node", "m.pt as np", "m.t as nt")
        )
        winners = (
            live_nodes.join(nbr_min, "node", "left")
            .where(
                F.col("np").isNull()
                | (F.col("p") < F.col("np"))
                | ((F.col("p") == F.col("np")) & (F.col("node") < F.col("nt")))
            )
            .select("node")
            .localCheckpoint(eager=True)
        )
        out.append(winners.select("node", F.lit(rnd).alias("round")))
        removed = winners.unionByName(
            live_edges.join(
                winners.selectExpr("node as s"), "s", "left_semi"
            ).select(F.col("t").alias("node"))
        ).distinct()
        live_nodes = live_nodes.join(removed, "node", "left_anti").localCheckpoint(
            eager=True
        )
        live_edges = (
            live_edges.join(removed.selectExpr("node as s"), "s", "left_anti")
            .join(removed.selectExpr("node as t"), "t", "left_anti")
            .select("s", "t")
            .localCheckpoint(eager=True)
        )
    if not out:
        # empty edge input: no nodes, no rounds — empty frame, same schema
        return prio.select(
            "node", F.lit(0).alias("round")
        ).where(F.lit(False))
    result = out[0]
    for o in out[1:]:
        result = result.unionByName(o)
    return result


def apsp_bfs(
    edges: DataFrame,
    max_depth: int = 40,
) -> DataFrame:
    """All-pairs shortest-path distances within components by
    MULTI-SOURCE BFS: every node starts its own frontier and all
    frontiers expand simultaneously — state is (src, node, dist)
    rows, so a round is ONE join frontier x edges + ONE anti-join
    against the visited set, whatever the source count. Feasible
    whenever components are small (state is bounded by sum of
    component sizes squared), which is exactly the post-canonical-
    ization regime where per-entity cluster metrics get computed.

    Input: undirected edges (s, t). Returns (src, node, dist) for all
    connected pairs incl. (v, v, 0).
    """
    sym = (
        edges.selectExpr("s", "t")
        .where(F.col("s") != F.col("t"))
        .select(F.least("s", "t").alias("s"), F.greatest("s", "t").alias("t"))
        .distinct()
    )
    sym = sym.unionByName(sym.selectExpr("t as s", "s as t")).localCheckpoint(
        eager=True
    )
    visited = (
        sym.select(F.col("s").alias("src"))
        .distinct()
        .select("src", F.col("src").alias("node"), F.lit(0).alias("dist"))
        .localCheckpoint(eager=True)
    )
    frontier = visited
    for depth in range(1, max_depth + 1):
        nxt = (
            frontier.join(sym.selectExpr("s as node", "t as nxt"), "node")
            .select("src", F.col("nxt").alias("node"))
            .distinct()
            .join(visited.select("src", "node"), ["src", "node"], "left_anti")
            .select("src", "node", F.lit(depth).alias("dist"))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return visited


def coreness_hindex(
    edges: DataFrame,
    rounds: int = 12,
) -> DataFrame:
    """Core number (degeneracy) of every node by h-index iteration
    (Lü/Chen/Zhou 2016): start from degrees and repeatedly replace
    each node's value with the H-INDEX of its neighbors' values — the
    sequence is monotonically non-increasing and converges exactly to
    the coreness, without the sequential k-by-k peeling. Each round is
    one neighbor-join + one per-node in-row h-index over the sorted
    neighbor values (degree-bounded arrays) — fully parallel, the
    standard distributed coreness algorithm. A FIXED round count keeps
    the oracle an identical unrolled recurrence; tests assert the
    fixpoint is reached well before the cap on the target graphs.

    Returns (node, coreness).
    """
    und = (
        edges.selectExpr("s", "t")
        .where(F.col("s") != F.col("t"))
        .select(F.least("s", "t").alias("s"), F.greatest("s", "t").alias("t"))
        .distinct()
    )
    sym = und.unionByName(und.selectExpr("t as s", "s as t")).localCheckpoint(
        eager=True
    )
    cur = (
        sym.groupBy(F.col("s").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    for _ in range(rounds):
        cur = (
            sym.join(cur.selectExpr("node as t", "c as ct"), "t")
            .groupBy(F.col("s").alias("node"))
            .agg(
                F.reverse(F.array_sort(F.collect_list("ct"))).alias("vals")
            )
            .select(
                "node",
                F.expr(
                    "cast(size(filter(sequence(1, size(vals)),"
                    " i -> element_at(vals, i) >= i)) as bigint)"
                ).alias("c"),
            )
            .localCheckpoint(eager=True)
        )
    return cur.select("node", F.col("c").alias("coreness"))
