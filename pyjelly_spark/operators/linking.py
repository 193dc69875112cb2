"""Entity linking: resolve call/import mentions to defining entities.

Winner rule (the spec, also encoded in the kg_linked oracle SQL): for a
mention (repo, path, symbol), over candidate defs of the same symbol,
maximize ``same_repo*100 + same_pkg*10`` and break ties by the smallest
(def_repo, def_path).

Scale design — dictionary aggregation, NOT candidate explosion. A naive
equi-join on ``symbol`` multiplies hot symbols (mentions x def-sites:
a symbol with 10^3 callers and 10^3 definers yields 10^6 candidate rows
before scoring — the classic skew bomb at 10^12-file scale). Because the
score depends only on (repo, pkg) equality, the argmax distributes over
four pre-aggregated dictionaries:

  d_rp: min def per (symbol, repo, pkg)   -> score 110 bucket
  d_r:  min def per (symbol, repo)        -> score 100 bucket
  d_p:  min def per (symbol, pkg)         -> score  10 bucket
  d_g:  min def per (symbol)              -> score   0 bucket

Each mention left-joins the four dictionaries on exact keys (1:1 after
aggregation — join output never exceeds the mention count) and coalesces
by priority. The dictionaries are def-site aggregates: tiny relative to
the mention stream, broadcast when they fit. Identical output to the
row_number() formulation, verified against the oracle.

No counterpart in the reference (SURVEY.md §2.9); required by
BASELINE.json north_star ("entity-link candidate generation ... link
scoring ... broadcast when dictionary small").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyjelly_spark.operators.extract import P_CALLS_RESOLVED, iri

DEF_SITE_BASE = "http://kg.example/def/"
PKG_RE = r"^src/(pkg\d+)/"


def def_site_iri(repo, path, symbol):
    return F.concat(
        F.lit(DEF_SITE_BASE), repo, F.lit("/"), path, F.lit("#"), symbol
    )


def _pkg(path: Column) -> Column:
    return F.regexp_extract(path, PKG_RE, 1)


def _best(defs: DataFrame, keys: list) -> DataFrame:
    """Smallest (def_repo, def_path) def site per key bucket."""
    return defs.groupBy(*keys).agg(
        F.min(F.struct("def_repo", "def_path")).alias("best")
    )


def link_mentions(
    mentions: DataFrame,
    definitions: DataFrame,
    broadcast_dictionary: bool = False,
) -> DataFrame:
    """Resolve each distinct (repo, path, symbol) mention to its best def.

    mentions:     (repo, path, symbol) — duplicates collapse to one row
    definitions:  (def_repo, def_path, symbol)
    returns:      (repo, path, symbol, def_repo, def_path, link_score)
    """
    # Every dictionary's grouping keys include ``symbol``, so definitions
    # that arrive hash-partitioned on ``symbol`` (the pipeline passes them
    # so) aggregate in place; raw ones get one partial-aggregate exchange
    # per dictionary. Alone, the two shapes cost the same (10k files, 4
    # vCPUs: 0.57 s raw vs 0.55 s pre-exchanged into a noop sink, 4 def
    # exchanges each). Pre-exchanging wins once the def sites have another
    # symbol-keyed consumer: with the canonical election on the same
    # exchange, the pipeline's encode plan runs 3 def-side shuffles
    # instead of 7 (Spark does not reuse all branch subtrees: their
    # inferred filters differ below the exchange) and 13 jobs instead of
    # 20, and a fused run is 21% faster (8 of 8 alternating pairs).
    defs = definitions.select(
        "symbol", "def_repo", "def_path", _pkg(F.col("def_path")).alias("def_pkg")
    )
    d_rp = _best(defs, ["symbol", "def_repo", "def_pkg"])
    d_r = _best(defs, ["symbol", "def_repo"])
    d_p = _best(defs, ["symbol", "def_pkg"])
    d_g = _best(defs, ["symbol"])
    if broadcast_dictionary:
        d_rp, d_r, d_p, d_g = (F.broadcast(d) for d in (d_rp, d_r, d_p, d_g))

    # ONE exchange for the whole mention side: every downstream clustering
    # requirement (the distinct's group-by and all four dictionary joins)
    # includes ``symbol``, and hash partitioning on a SUBSET of the
    # required keys satisfies ClusteredDistribution — so the explicit
    # hash(symbol) exchange is reused end-to-end and the joins degrade to
    # in-partition sorts. Without it the mention stream reshuffles once
    # per join key set (4x the dominant shuffle volume; measured 9
    # exchanges -> 6 in the executed plan).
    m = (
        mentions.select("repo", "path", "symbol")
        .repartition("symbol")
        .distinct()
        .withColumn("pkg", _pkg(F.col("path")))
    )
    out = (
        m.alias("m")
        .join(
            d_rp.alias("rp"),
            (F.col("m.symbol") == F.col("rp.symbol"))
            & (F.col("m.repo") == F.col("rp.def_repo"))
            & (F.col("m.pkg") == F.col("rp.def_pkg")),
            "left",
        )
        .join(
            d_r.alias("r"),
            (F.col("m.symbol") == F.col("r.symbol"))
            & (F.col("m.repo") == F.col("r.def_repo")),
            "left",
        )
        .join(
            d_p.alias("p"),
            (F.col("m.symbol") == F.col("p.symbol"))
            & (F.col("m.pkg") == F.col("p.def_pkg")),
            "left",
        )
        .join(d_g.alias("g"), F.col("m.symbol") == F.col("g.symbol"), "left")
    )
    winner = F.coalesce(
        F.col("rp.best"), F.col("r.best"), F.col("p.best"), F.col("g.best")
    )
    score = (
        F.when(F.col("rp.best").isNotNull(), F.lit(110))
        .when(F.col("r.best").isNotNull(), F.lit(100))
        .when(F.col("p.best").isNotNull(), F.lit(10))
        .otherwise(F.lit(0))
    )
    return (
        out.where(winner.isNotNull())  # inner-join semantics: unlinkable dropped
        .select(
            F.col("m.repo").alias("repo"),
            F.col("m.path").alias("path"),
            F.col("m.symbol").alias("symbol"),
            winner.getField("def_repo").alias("def_repo"),
            winner.getField("def_path").alias("def_path"),
            score.alias("link_score"),
        )
    )


def resolved_call_triples(linked: DataFrame) -> DataFrame:
    """Winner links -> file --callsResolved--> def-site triples."""
    from pyjelly_spark.operators.extract import file_iri

    return linked.select(
        F.col("repo"),
        F.col("path"),
        F.lit(6).cast("int").alias("kind_rank"),
        iri(file_iri(F.col("repo"), F.col("path"))).alias("s"),
        iri(F.lit(P_CALLS_RESOLVED)).alias("p"),
        iri(def_site_iri(F.col("def_repo"), F.col("def_path"), F.col("symbol"))).alias(
            "o"
        ),
    )


def _deletion_variants(col: Column) -> Column:
    """The string itself plus every single-character deletion — the
    SymSpell neighborhood for edit distance 1, built with pure Catalyst
    array expressions (sequence + substring concat, no UDF)."""
    deletes = F.transform(
        F.sequence(F.lit(1), F.length(col)),
        lambda i: F.concat(
            F.substring(col, F.lit(1), i - 1),
            col.substr(i + 1, F.length(col)),
        ),
    )
    # sequence(1, 0) DESCENDS in Spark, so the empty string needs its
    # own branch (its only variant is itself)
    return F.when(F.length(col) == 0, F.array(col)).otherwise(
        F.array_union(F.array(col), deletes)
    )


def fuzzy_pairs(terms: DataFrame, col: str = "term") -> DataFrame:
    """Distinct unordered pairs of terms at Levenshtein distance <= 1 —
    the typo-tolerant entity-matching primitive, via symmetric-delete
    (SymSpell) blocking instead of the all-pairs cross join.

    Scale shape: each term emits len+1 deletion variants; candidate
    pairs come from ONE equi-join on the variant key (two terms within
    distance 1 always share a variant — SymSpell's guarantee), and the
    exact ``levenshtein`` filter then removes the blocking's false
    positives (e.g. transpositions at distance 2 that share a variant).
    No quadratic stage anywhere: the join fan-out per variant key is
    the vocabulary's neighborhood density, not its size. The oracle
    closes the same pair set with the quadratic cross join DuckDB can
    afford at gate scale.
    """
    t = terms.select(F.col(col).alias("term")).where(
        F.col("term").isNotNull()
    ).distinct()
    variants = t.select(
        "term", F.explode(_deletion_variants(F.col("term"))).alias("v")
    )
    a = variants.select(F.col("term").alias("term_a"), "v")
    b = variants.select(F.col("term").alias("term_b"), "v")
    return (
        a.join(b, "v")
        .where(F.col("term_a") < F.col("term_b"))
        .select("term_a", "term_b")
        .distinct()
        .where(F.levenshtein("term_a", "term_b") <= 1)
    )


def precision_recall(
    predicted: DataFrame, actual: DataFrame, keys: list[str]
) -> DataFrame:
    """Set precision/recall of ``predicted`` vs ``actual`` over the key
    columns — the evaluation operator behind the north rule's
    "P/R >= 0.95 vs reference" criterion. One full-outer join on the
    keys and one aggregation; ratios are floor-scaled per-myriad
    integers so the result is engine-exact. Returns one row
    (tp, fp, fn, precision_x10000, recall_x10000).
    """
    p = predicted.select(*keys).distinct().withColumn("__p", F.lit(1))
    a = actual.select(*keys).distinct().withColumn("__a", F.lit(1))
    j = p.join(a, keys, "full")
    return (
        j.agg(
            F.sum(
                F.when(F.col("__p").isNotNull() & F.col("__a").isNotNull(), 1)
                .otherwise(0)
            ).cast("long").alias("tp"),
            F.sum(
                F.when(F.col("__p").isNotNull() & F.col("__a").isNull(), 1)
                .otherwise(0)
            ).cast("long").alias("fp"),
            F.sum(
                F.when(F.col("__p").isNull() & F.col("__a").isNotNull(), 1)
                .otherwise(0)
            ).cast("long").alias("fn"),
        )
        .select(
            "tp",
            "fp",
            "fn",
            F.floor(F.col("tp") * 10000 / (F.col("tp") + F.col("fp")))
            .cast("long").alias("precision_x10000"),
            F.floor(F.col("tp") * 10000 / (F.col("tp") + F.col("fn")))
            .cast("long").alias("recall_x10000"),
        )
    )
