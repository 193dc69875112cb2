"""Connected components vs a driver-side union-find oracle."""

import random

from pyspark.sql import functions as F

from pyjelly_spark.operators.components import connected_components


def _union_find_oracle(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    return {node: find(node) for node in parent}


def _check(spark, edges):
    df = spark.createDataFrame(edges, "src: string, dst: string")
    result = {
        row["node"]: row["component"]
        for row in connected_components(df).collect()
    }
    oracle = _union_find_oracle(edges)
    # canonical representative = lexicographic min of each component
    groups = {}
    for node, root in oracle.items():
        groups.setdefault(root, []).append(node)
    expected = {
        node: min(members) for members in groups.values() for node in members
    }
    assert result == expected


def test_single_edge(spark):
    _check(spark, [("b", "a")])


def test_chain(spark):
    _check(spark, [(f"n{i}", f"n{i+1}") for i in range(9)])


def test_star(spark):
    _check(spark, [("hub", f"leaf{i}") for i in range(8)])


def test_two_components(spark):
    _check(spark, [("a", "b"), ("b", "c"), ("x", "y"), ("y", "z")])


def test_self_loops_ignored(spark):
    _check(spark, [("a", "a"), ("a", "b"), ("c", "c"), ("c", "d")])


def test_random_graphs(spark):
    rng = random.Random(42)
    for trial in range(3):
        n = 60
        edges = [
            (f"v{rng.randrange(n):03d}", f"v{rng.randrange(n):03d}")
            for _ in range(80)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        _check(spark, edges)


def test_long_path_log_rounds(spark):
    """A 64-node path needs multiple star rounds — exercises convergence."""
    _check(spark, [(f"p{i:02d}", f"p{i+1:02d}") for i in range(63)])


def test_hashed_path_matches_string_path(spark):
    """The hashed-id rounds (forced via hash_ids=True) must return exactly
    the string-keyed result, including the lexicographic representative."""
    import random

    rng = random.Random(7)
    nodes = [f"http://kg.example/def/r{i}/p{i}#s{i % 17}" for i in range(300)]
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(500)
    ]
    df = spark.createDataFrame(edges, "src: string, dst: string")
    via_strings = {
        (r["node"], r["component"])
        for r in connected_components(df, hash_ids=False).collect()
    }
    via_hashes = {
        (r["node"], r["component"])
        for r in connected_components(df, hash_ids=True).collect()
    }
    assert via_hashes == via_strings


def test_bfs_reachable_min_depth_and_bound(spark):
    from pyjelly_spark.operators.components import bfs_reachable

    # a -> b -> c -> d -> e, plus shortcut a -> c and a cycle e -> a
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("a", "c"),
         ("e", "a")],
        ["src", "dst"],
    )
    src = spark.createDataFrame([("a",)], ["node"])
    out = {r["node"]: r["depth"] for r in bfs_reachable(edges, src).collect()}
    # c is at depth 1 via the shortcut, not 2; cycle does not re-add a
    assert out == {"a": 0, "b": 1, "c": 1, "d": 2, "e": 3}

    capped = {
        r["node"]: r["depth"]
        for r in bfs_reachable(edges, src, max_depth=2).collect()
    }
    assert capped == {"a": 0, "b": 1, "c": 1, "d": 2}


def test_bfs_reachable_multi_source_and_isolated(spark):
    from pyjelly_spark.operators.components import bfs_reachable

    edges = spark.createDataFrame(
        [("a", "b"), ("x", "y")], ["src", "dst"]
    )
    src = spark.createDataFrame([("a",), ("x",), ("a",)], ["node"])
    out = {r["node"]: r["depth"] for r in bfs_reachable(edges, src).collect()}
    assert out == {"a": 0, "x": 0, "b": 1, "y": 1}


def test_multi_source_bfs_and_closeness(spark):
    from pyjelly_spark.operators.components import (
        closeness_centrality,
        multi_source_bfs,
    )

    # a -> b -> c -> d, shortcut a -> c; x -> y disconnected from a's side
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("x", "y")],
        ["src", "dst"],
    )
    seeds = spark.createDataFrame([("a",), ("x",)], ["seed"])
    out = {
        (r["seed"], r["node"]): r["depth"]
        for r in multi_source_bfs(edges, seeds, max_depth=3).collect()
    }
    assert out == {
        ("a", "a"): 0, ("a", "b"): 1, ("a", "c"): 1, ("a", "d"): 2,
        ("x", "x"): 0, ("x", "y"): 1,
    }
    # python brute force of the closeness contract
    cl = {r["node"]: r for r in closeness_centrality(edges, seeds, max_depth=3).collect()}
    assert cl["a"]["n_reached"] == 3 and cl["a"]["sum_dist"] == 4
    assert cl["a"]["closeness_x1e6"] == 3 * 10**6 // 4
    assert cl["x"]["n_reached"] == 1 and cl["x"]["sum_dist"] == 1
    # depth bound: from a with max_depth=1, d is absent
    capped = multi_source_bfs(edges, seeds, max_depth=1)
    assert ("a", "d") not in {
        (r["seed"], r["node"]) for r in capped.collect()
    }


def test_incremental_delta_file_level(spark):
    from pyjelly_spark.operators.incremental import incremental_delta

    def files(rows):
        return spark.createDataFrame(
            [(r, p, "c0", "python", c) for r, p, c in rows],
            ["repo", "path", "commit", "lang", "content"],
        )

    old = files([
        ("r1", "a.py", "def f_a():"),            # unchanged
        ("r1", "b.py", "def f_b():"),            # changed in new
        ("r1", "c.py", "def f_c():"),            # deleted in new
    ])
    new = files([
        ("r1", "a.py", "def f_a():"),
        ("r1", "b.py", "def f_b2():"),
        ("r1", "d.py", "def f_d():"),            # created in new
    ])
    rows = incremental_delta(old, new).collect()
    by_op = {}
    for r in rows:
        by_op.setdefault(r["op"], set()).add((r["s"], r["p"], r["o"]))
    defines = "http://kg.example/ns#defines"
    sym = "http://kg.example/symbol/"
    f = "http://kg.example/file/r1/"
    # unchanged a.py contributes nothing at all
    assert not any(
        "a.py" in s or "a.py" in o
        for op in by_op.values() for s, _, o in op
    )
    assert (f + "b.py", defines, sym + "f_b") in by_op["del"]
    assert (f + "b.py", defines, sym + "f_b2") in by_op["add"]
    assert (f + "c.py", defines, sym + "f_c") in by_op["del"]
    assert not any("c.py" in s or "c.py" in o for s, _, o in by_op["add"])
    assert (f + "d.py", defines, sym + "f_d") in by_op["add"]
    assert not any("d.py" in s or "d.py" in o for s, _, o in by_op["del"])
    # file-level contract: changed file re-emits ALL its triples both ways
    n_b_del = sum(1 for s, _, o in by_op["del"] if "b.py" in s or "b.py" in o)
    n_b_add = sum(1 for s, _, o in by_op["add"] if "b.py" in s or "b.py" in o)
    assert n_b_del == n_b_add == 4  # contains, lang, sha256, defines


def _triangle_oracle(edges):
    """Brute-force per-node triangle counts over an undirected edge list."""
    from itertools import combinations

    adj = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    counts = {}
    for a, b, c in combinations(sorted(adj), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for n in (a, b, c):
                counts[n] = counts.get(n, 0) + 1
    return counts


def _check_triangles(spark, edges):
    from pyjelly_spark.operators.components import triangle_count

    df = spark.createDataFrame(edges, "src: string, dst: string")
    got = {r["node"]: r["triangles"] for r in triangle_count(df).collect()}
    assert got == _triangle_oracle(edges)


def test_triangle_simple(spark):
    _check_triangles(spark, [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")])


def test_triangle_clique_and_hub(spark):
    # K4 (4 triangles, 3 per node) plus a hub fanning to leaves that add
    # no triangles; duplicate/reversed/self edges must not change counts
    edges = [
        ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
        ("c", "d"), ("b", "a"), ("a", "a"),
    ] + [("hub", f"leaf{i}") for i in range(10)] + [("hub", "a")]
    _check_triangles(spark, edges)


def test_triangle_random(spark):
    rng = random.Random(7)
    nodes = [f"n{i}" for i in range(30)]
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(120)
    ]
    _check_triangles(spark, edges)


def test_triangle_free_graph_empty(spark):
    # bipartite graphs have no triangles -> empty result
    from pyjelly_spark.operators.components import triangle_count

    edges = [(f"l{i}", f"r{j}") for i in range(4) for j in range(4)]
    df = spark.createDataFrame(edges, "src: string, dst: string")
    assert triangle_count(df).count() == 0


def _lpa_oracle(edges, iterations=3):
    adj = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    labels = {n: n for n in adj}
    for _ in range(iterations):
        new = {}
        for n in adj:
            counts = {}
            for m in adj[n]:
                counts[labels[m]] = counts.get(labels[m], 0) + 1
            if counts:
                best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
                new[n] = best[0]
            else:
                new[n] = labels[n]
        labels = new
    return labels


def test_label_propagation_matches_oracle(spark):
    from pyjelly_spark.operators.components import label_propagation

    rng = random.Random(11)
    nodes = [f"n{i:02d}" for i in range(25)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(60)]
    df = spark.createDataFrame(edges, "src: string, dst: string")
    for iters in (1, 3):
        got = {
            r["node"]: r["label"]
            for r in label_propagation(df, iterations=iters).collect()
        }
        assert got == _lpa_oracle(edges, iters)


def test_label_propagation_two_cliques_bridge(spark):
    from pyjelly_spark.operators.components import label_propagation

    # two triangles joined by one bridge edge: each triangle converges to
    # its lexicographic minimum as the community label
    edges = [("a", "b"), ("b", "c"), ("a", "c"),
             ("x", "y"), ("y", "z"), ("x", "z"), ("c", "x")]
    df = spark.createDataFrame(edges, "src: string, dst: string")
    got = {r["node"]: r["label"]
           for r in label_propagation(df, iterations=3).collect()}
    assert got == _lpa_oracle(edges, 3)
    # within the 'a' triangle the minimum label wins
    assert got["b"] == "a" and got["c"] == "a"


def _skipgram_oracle(walks, window):
    # walks: list of (seed, [node0, node1, ...]) ordered by step
    from collections import Counter

    pairs = Counter()
    for _seed, nodes in walks:
        for i, a in enumerate(nodes):
            for j, b in enumerate(nodes):
                if i != j and abs(i - j) <= window:
                    pairs[(a, b)] += 1
    return dict(pairs)


def test_skipgram_pairs_matches_bruteforce(spark):
    from pyjelly_spark.operators.components import skipgram_pairs

    walks = [
        ("s1", ["a", "b", "c", "d", "e"]),
        ("s2", ["b", "a", "b", "a"]),      # repeats within a walk
        ("s3", ["x"]),                      # lone node: no pairs
        ("s4", ["c", "d"]),
    ]
    rows = [
        (seed, step, node)
        for seed, nodes in walks
        for step, node in enumerate(nodes)
    ]
    df = spark.createDataFrame(rows, "seed: string, step: long, node: string")
    for window in (1, 2, 3):
        got = {
            (r["center"], r["context"]): r["cnt"]
            for r in skipgram_pairs(df, window=window).collect()
        }
        assert got == _skipgram_oracle(walks, window)


def test_negative_samples_deterministic_and_in_dictionary(spark):
    from pyjelly_spark.operators.components import negative_samples

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")],
        "src: string, dst: string",
    )
    got1 = sorted(map(tuple, negative_samples(edges, k=3).collect()))
    got2 = sorted(map(tuple, negative_samples(edges, k=3).collect()))
    assert got1 == got2                       # pure function of the graph
    assert len(got1) == 4 * 3                 # k per distinct edge
    nodes = {"a", "b", "c", "d"}
    assert all(neg in nodes for (_s, _d, _j, neg) in got1)
    # j indices complete per edge
    from collections import Counter
    per_edge = Counter((s, d) for (s, d, _j, _n) in got1)
    assert set(per_edge.values()) == {3}


def _truss_oracle(edges, k):
    es = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    while True:
        adj = {}
        for u, v in es:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        sup = {
            (u, v): len(adj[u] & adj[v]) for (u, v) in es
        }
        keep = {e for e in es if sup[e] >= k - 2}
        if keep == es:
            return {e: sup[e] for e in es}
        es = keep


def test_truss_edges_matches_bruteforce(spark):
    import random

    from pyjelly_spark.operators.components import truss_edges

    rng = random.Random(13)
    nodes = [f"n{i:02d}" for i in range(16)]
    # a 5-clique (survives k=4) + random sparse edges (peeled away)
    clique = [(nodes[i], nodes[j]) for i in range(5) for j in range(i + 1, 5)]
    sparse = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(25)]
    edges = clique + sparse
    df = spark.createDataFrame(edges, "src: string, dst: string")
    for k in (3, 4, 5):
        got = {
            (r["u"], r["v"]): r["support"]
            for r in truss_edges(df, k=k).collect()
        }
        assert got == _truss_oracle(edges, k), f"k={k}"
    # k above the clique size: everything peels away
    assert truss_edges(df, k=7).count() == 0


def _ppr_oracle(edges, seeds, iters, scale=10**12, damping=85):
    es = sorted({e for e in edges if e[0] != e[1]})
    nodes = sorted({n for e in es for n in e})
    outdeg = {}
    for s, _d in es:
        outdeg[s] = outdeg.get(s, 0) + 1
    ns = len([n for n in nodes if n in seeds])
    base_s = (scale * (100 - damping) // 100) // ns
    pr = {n: (scale // ns if n in seeds else 0) for n in nodes}
    for _ in range(iters):
        sums = {n: 0 for n in nodes}
        for s, d in es:
            sums[d] += pr[s] // outdeg[s]
        pr = {
            n: (base_s if n in seeds else 0) + (damping * sums[n]) // 100
            for n in nodes
        }
    return pr


def test_personalized_pagerank_matches_recurrence(spark):
    from pyjelly_spark.operators.components import pagerank_int

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "a"),
             ("b", "d"), ("e", "a")]
    df = spark.createDataFrame(edges, "src: string, dst: string")
    seeds = spark.createDataFrame([("a",), ("e",)], "node: string")
    got = {
        r["node"]: r["pr"]
        for r in pagerank_int(df, iterations=6, seeds=seeds).collect()
    }
    assert got == _ppr_oracle(edges, {"a", "e"}, 6)
    # seed mass concentrates near the seed set: a outranks c
    assert got["a"] > got["c"]
    # no-seeds path unchanged (regression guard for the refactor)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        pagerank_int(df, seeds=spark.createDataFrame([("zz",)], "node: string"))


def _hits_oracle(edges, iterations=4, scale=10**6):
    """Pure-python unroll of the hits_int integer recurrence."""
    outn, inn = {}, {}
    for s, d in set(edges):
        if s == d:
            continue
        outn.setdefault(s, set()).add(d)
        inn.setdefault(d, set()).add(s)
    hub = {n: scale for n in outn}
    auth = {}
    for _ in range(iterations):
        raw_a = {
            v: sum(hub.get(u, 0) for u in us) for v, us in inn.items()
        }
        mx = max(raw_a.values())
        auth = {v: (r * scale) // mx for v, r in raw_a.items()}
        raw_h = {
            u: sum(auth.get(v, 0) for v in vs) for u, vs in outn.items()
        }
        mx = max(raw_h.values())
        hub = {u: (r * scale) // mx for u, r in raw_h.items()}
    nodes = set(outn) | set(inn)
    return {n: (hub.get(n, 0), auth.get(n, 0)) for n in nodes}


def test_hits_matches_recurrence(spark):
    from pyjelly_spark.operators.components import hits_int

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "a"),
             ("b", "d"), ("e", "a"), ("e", "b"), ("a", "a")]
    df = spark.createDataFrame(edges, "src: string, dst: string")
    got = {
        r["node"]: (r["hub"], r["auth"]) for r in hits_int(df, iterations=4).collect()
    }
    assert got == _hits_oracle(edges, 4)
    # renormalization pins each round's max to exactly `scale`
    assert max(h for h, _ in got.values()) == 10**6
    assert max(a for _, a in got.values()) == 10**6
    # the self-loop (a, a) must have been dropped: e has no in-edges
    # from itself and its auth is 0 (nothing points at e)
    assert got["e"][1] == 0


def test_ra_scores_closed_form(spark):
    from pyjelly_spark.operators.components import ra_scores

    # z1 has indeg 3 (a,b,c), z2 indeg 2 (a,b), z3 indeg 1 (a)
    edges = [("a", "z1"), ("b", "z1"), ("c", "z1"),
             ("a", "z2"), ("b", "z2"), ("a", "z3")]
    df = spark.createDataFrame(edges, "src: string, dst: string")
    got = {
        (r["a"], r["b"]): (r["shared"], r["ra_score"])
        for r in ra_scores(df, min_shared=1).collect()
    }
    s = 10**6
    assert got[("a", "b")] == (2, s // 3 + s // 2)   # z1 + z2
    assert got[("a", "c")] == (1, s // 3)            # z1 only
    assert got[("b", "c")] == (1, s // 3)
    # min_shared=2 keeps only (a, b)
    only = ra_scores(df, min_shared=2).collect()
    assert [(r["a"], r["b"]) for r in only] == [("a", "b")]
    # hub_cap=2 drops z1 entirely: (a,c)/(b,c) vanish, (a,b) loses z1
    capped = {
        (r["a"], r["b"]): r["ra_score"]
        for r in ra_scores(df, min_shared=1, hub_cap=2).collect()
    }
    assert capped == {("a", "b"): s // 2}


def test_root_distance_doubling_matches_walk(spark):
    """Additive pointer doubling == a plain python parent-chain walk
    on a hand-built two-tree forest incl. a deep chain (depth 9)."""
    from pyjelly_spark.operators.components import root_distance_doubling

    # tree A: chain 1->2->3->...->9 (parent = node-1), root 1
    # tree B: star root 100 with leaves 101..104
    rows = [(1, None, 5)] + [(i, i - 1, i) for i in range(2, 10)]
    rows += [(100, None, 7)] + [(100 + i, 100, 10 * i) for i in range(1, 5)]
    df = spark.createDataFrame(rows, "node: long, parent: long, dur: long")
    got = {r["node"]: (r["root"], r["root_dist"])
           for r in root_distance_doubling(df).collect()}

    durs = {n: d for n, _, d in rows}
    parents = {n: p for n, p, _ in rows}
    for n in durs:
        dist, cur = durs[n], parents[n]
        while cur is not None:
            dist += durs[cur]
            root, cur = cur, parents[cur]
        root = n if parents[n] is None else root
        assert got[n] == (root, dist), n


def test_apsp_bfs_matches_floyd(spark):
    """Multi-source BFS distances == Floyd-Warshall on a two-component
    graph (cycle + path with pendant)."""
    from pyjelly_spark.operators.components import apsp_bfs

    edges = [(0, 1), (1, 2), (2, 3), (3, 0),        # C4
             (10, 11), (11, 12), (11, 13)]          # path + pendant
    df = spark.createDataFrame(edges, "s: long, t: long")
    got = {(r["src"], r["node"]): r["dist"] for r in apsp_bfs(df).collect()}

    nodes = sorted({v for e in edges for v in e})
    INF = 99
    dist = {(a, b): 0 if a == b else INF for a in nodes for b in nodes}
    for s, t in edges:
        dist[(s, t)] = dist[(t, s)] = 1
    for k in nodes:
        for a in nodes:
            for b in nodes:
                d = dist[(a, k)] + dist[(k, b)]
                if d < dist[(a, b)]:
                    dist[(a, b)] = d
    expect = {p: d for p, d in dist.items() if d < INF}
    assert got == expect


def test_cap_key_fanout_hot_symbol_completes(spark):
    """A planted hot symbol shared by 10^4 nodes would emit ~5*10^7
    pairs from the co-occurrence self-join; cap_key_fanout cuts the key
    wholesale so the join completes and the cool keys' pairs are
    exact (multiplicities untouched)."""
    import time

    from pyjelly_spark.operators.components import cap_key_fanout

    hot = [(f"n{i}", "hot_symbol") for i in range(10_000)]
    cool = [(f"n{i}", f"cool_{i % 5}") for i in range(20)]
    df = spark.createDataFrame(hot + cool, "node: string, symbol: string")

    t0 = time.time()
    capped = cap_key_fanout(df, "symbol", hub_cap=1000)
    pairs = (
        capped.alias("x")
        .join(
            capped.alias("y"),
            (F.col("x.symbol") == F.col("y.symbol"))
            & (F.col("x.node") < F.col("y.node")),
        )
        .select(F.col("x.node").alias("src"), F.col("y.node").alias("dst"))
    )
    got = {(r["src"], r["dst"]) for r in pairs.collect()}
    elapsed = time.time() - t0

    want = set()
    by_sym = {}
    for n, s in cool:
        by_sym.setdefault(s, []).append(n)
    for ns in by_sym.values():
        for a in ns:
            for b in ns:
                if a < b:
                    want.add((a, b))
    assert got == want
    assert elapsed < 60, f"hot-symbol join took {elapsed:.1f}s"


def test_cap_key_fanout_keeps_at_cap_boundary(spark):
    """fan-out == hub_cap survives; only strictly-above is cut."""
    from pyjelly_spark.operators.components import cap_key_fanout

    rows = [(f"n{i}", "at_cap") for i in range(5)] + [
        (f"m{i}", "over_cap") for i in range(6)
    ]
    df = spark.createDataFrame(rows, "node: string, symbol: string")
    out = {r["symbol"] for r in cap_key_fanout(df, "symbol", hub_cap=5).collect()}
    assert out == {"at_cap"}


def test_cap_key_fanout_distinct_node_counting(spark):
    """node_col counts DISTINCT nodes: duplicate (node, key) rows no
    longer inflate the fan-out estimate (r3 advisory)."""
    from pyjelly_spark.operators.components import cap_key_fanout

    # 3 distinct nodes x 4 duplicate rows each = 12 rows, 3 nodes.
    rows = [(f"n{i}", "dupkey") for i in range(3)] * 4
    df = spark.createDataFrame(rows, "node: string, symbol: string")
    # Row counting (12 > 5) cuts the key; distinct-node counting
    # (3 <= 5) keeps it.
    assert cap_key_fanout(df, "symbol", hub_cap=5).count() == 0
    assert (
        cap_key_fanout(df, "symbol", hub_cap=5, node_col="node").count() == 12
    )


def test_cap_key_fanout_error_mode(spark):
    """on_exceed='error' is the exact-tier regime refusal: hot keys
    fail the job loudly instead of silently diverging from a no-cap
    oracle; cool inputs pass through rows unchanged."""
    import pytest

    from pyjelly_spark.operators.components import cap_key_fanout

    cool = spark.createDataFrame(
        [(f"n{i}", f"k{i % 3}") for i in range(9)],
        "node: string, symbol: string",
    )
    out = cap_key_fanout(cool, "symbol", hub_cap=5, on_exceed="error")
    assert out.count() == 9
    assert sorted(out.columns) == ["node", "symbol"]

    hot = spark.createDataFrame(
        [(f"n{i}", "hot") for i in range(7)], "node: string, symbol: string"
    )
    with pytest.raises(Exception, match="cap_key_fanout"):
        cap_key_fanout(hot, "symbol", hub_cap=5, on_exceed="error").count()
    with pytest.raises(ValueError, match="on_exceed"):
        cap_key_fanout(hot, "symbol", on_exceed="bogus")


def test_hot_shingle_guard_bounded_time(spark):
    """A planted boilerplate shingle occurring in 10^4 docs would emit
    ~5*10^7 pairs from the exact-Jaccard shingle self-join. The default
    on_hot_shingle='error' refuses the job in bounded time (the guard
    is a pre-join aggregation — the blow-up is never materialized);
    'drop' mode completes and still finds the cool near-dup pair."""
    import time

    import pytest

    from pyjelly_spark.operators.dedup import ngram_jaccard_pairs

    # Every doc shares one identical 3-word boilerplate header; two
    # docs are genuine near-duplicates beyond it.
    boiler = "copyright acme corp"
    rows = [(i, f"{boiler} unique{i} text{i} filler{i}") for i in range(10_000)]
    rows.append((20_001, "alpha beta gamma delta epsilon zeta eta"))
    rows.append((20_002, "alpha beta gamma delta epsilon zeta theta"))
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")

    t0 = time.time()
    with pytest.raises(Exception, match="cap_key_fanout"):
        ngram_jaccard_pairs(docs, threshold=0.5, hub_cap=1000).count()
    refused = time.time() - t0
    assert refused < 120, f"hot-shingle refusal took {refused:.1f}s"

    t0 = time.time()
    got = {
        (r["a"], r["b"])
        for r in ngram_jaccard_pairs(
            docs, threshold=0.5, hub_cap=1000, on_hot_shingle="drop"
        ).collect()
    }
    elapsed = time.time() - t0
    assert (20_001, 20_002) in got
    # No pair may arise via the dropped hot shingle alone.
    assert all(a >= 20_000 for a, _ in got)
    assert elapsed < 120, f"capped hot-shingle join took {elapsed:.1f}s"


def _cc_brute(edges):
    adj = {}
    for s, t in edges:
        adj.setdefault(s, set()).add(t)
        adj.setdefault(t, set()).add(s)
    seen, out = set(), {}
    for start in adj:
        if start in seen:
            continue
        comp, stack = [], [start]
        seen.add(start)
        while stack:
            v = stack.pop()
            comp.append(v)
            for w in adj[v]:
                if w not in seen:
                    seen.add(w)
                    stack.append(w)
        rep = min(comp)
        for v in comp:
            out[v] = rep
    return out


def test_cc_peel_paths_exact(spark, monkeypatch):
    """Force the distributed peel path (driver threshold -> 0) on
    pendant-heavy shapes: star forest (empty core), chain (tips peel),
    pendant-pendant pairs, and a hub whose pendant is the global min —
    the representative remap must still elect the true minimum."""
    from pyjelly_spark.operators import components as C

    monkeypatch.setattr(C, "DRIVER_CC_MAX_EDGES", 0)

    graphs = [
        # star forest: every src degree-1 into a hub (the pipeline's
        # canonicalization shape) — core empty after one peel
        [(f"s{i}", f"hub{i % 3}") for i in range(12)],
        # chain: tips peel, middle iterates
        [(f"c{i}", f"c{i+1}") for i in range(8)],
        # pendant-pendant pairs
        [("a1", "b1"), ("a2", "b2"), ("zz", "aa")],
        # hub with a pendant that is the global minimum id
        [("000min", "hub"), ("x1", "hub"), ("x2", "hub"), ("hub", "core1"),
         ("core1", "core2"), ("core2", "core3"), ("core3", "core1")],
        # mixed: triangle core + pendants hanging off it
        [("m1", "m2"), ("m2", "m3"), ("m3", "m1"),
         ("p1", "m1"), ("p2", "m2"), ("p3", "p4")],
    ]
    for g in graphs:
        df = spark.createDataFrame(g, "src: string, dst: string")
        got = {
            r["node"]: r["component"]
            for r in C.connected_components(df).collect()
        }
        assert got == _cc_brute(g), g


def test_cc_peel_matches_unpeeled(spark, monkeypatch):
    """peel=True and peel=False agree on a random graph (distributed
    path forced)."""
    import random

    from pyjelly_spark.operators import components as C

    monkeypatch.setattr(C, "DRIVER_CC_MAX_EDGES", 0)
    rng = random.Random(7)
    edges = [
        (f"n{rng.randrange(60)}", f"n{rng.randrange(60)}")
        for _ in range(80)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src: string, dst: string")
    a = {
        r["node"]: r["component"]
        for r in C.connected_components(df, peel=True).collect()
    }
    b = {
        r["node"]: r["component"]
        for r in C.connected_components(df, peel=False).collect()
    }
    assert a == b == _cc_brute(edges)


def test_star_components_matches_iterative(spark):
    """star_components (closed-form CC for disjoint-star graphs) is
    assignment-identical to the iterative operator: hubs with many
    spokes, hub-lexicographically-smallest and spoke-smallest
    components, multi-edge duplicates, and a 2-node star."""
    from pyjelly_spark.operators.components import (
        connected_components,
        star_components,
    )

    edges = []
    # hub smallest: component = hub
    edges += [(f"z_spoke_{i}", "a_hub") for i in range(5)]
    # spoke smallest: component = min spoke
    edges += [(f"b_spoke_{i}", "m_hub") for i in range(4)]
    # duplicate edges
    edges += [("b_spoke_0", "m_hub"), ("dup", "q_hub"), ("dup", "q_hub")]
    # 2-node star
    edges += [("x_only", "y_hub")]
    df = spark.createDataFrame(edges, "src: string, dst: string")
    got = {
        (r["node"], r["component"])
        for r in star_components(df).collect()
    }
    want = {
        (r["node"], r["component"])
        for r in connected_components(df).collect()
    }
    assert got == want
    # sanity on semantics: min-of-component representative
    comp = dict(got)
    assert comp["z_spoke_0"] == "a_hub"
    assert comp["m_hub"] == "b_spoke_0"
    # the runtime invariant guard passes on a genuine star forest
    got_checked = {
        (r["node"], r["component"])
        for r in star_components(df, check_invariant=True).collect()
    }
    assert got_checked == want


def test_connected_components_numeric_nodes(spark):
    """CC is type-agnostic: bigint-node graphs produce the same
    components (numeric-min representative) as the equivalent padded
    strings, on all three internal paths — driver union-find, string
    rounds (hash_ids=False), and hashed rounds (hash_ids=True)."""
    from pyjelly_spark.operators.components import connected_components

    edges = [(2, 1), (3, 2), (10, 11), (7, 8), (100, 3)]
    df = spark.createDataFrame(edges, "src: long, dst: long")
    want = {
        (r["node"], r["component"])
        for r in connected_components(
            df.selectExpr(
                "lpad(cast(src as string), 4, '0') as src",
                "lpad(cast(dst as string), 4, '0') as dst",
            )
        ).collect()
    }
    want = {(int(n), int(c)) for n, c in want}
    for hash_ids in (None, False, True):
        got = {
            (r["node"], r["component"])
            for r in connected_components(df, hash_ids=hash_ids).collect()
        }
        assert got == want, hash_ids
    comp = dict(want)
    assert comp[100] == 1 and comp[11] == 10 and comp[8] == 7


def test_star_components_invariant_guard_refuses_non_star(spark):
    """check_invariant=True fails loudly on both star-forest
    violations: a src bridging two hubs, and a chain node appearing as
    src and dst (where the closed form silently mis-assigns)."""
    import pytest

    from pyjelly_spark.operators.components import star_components

    bridge = spark.createDataFrame(
        [("s", "hub1"), ("s", "hub2"), ("t", "hub1")],
        "src: string, dst: string",
    )
    with pytest.raises(Exception, match="star_components"):
        star_components(bridge, check_invariant=True).collect()

    chain = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src: string, dst: string"
    )
    # the unchecked closed form is WRONG here (c -> b, true component a)
    wrong = {r["node"]: r["component"] for r in star_components(chain).collect()}
    assert wrong["c"] == "b"
    with pytest.raises(Exception, match="star_components"):
        star_components(chain, check_invariant=True).collect()


def test_star_components_self_loops_match_iterative(spark):
    """Self-loops follow connected_components' contract in both
    star_components forms: they are dropped, so a node whose only edge
    is (x, x) is absent, and the guard does not mistake a looped hub or
    spoke for a chain node."""
    from pyjelly_spark.operators.components import (
        connected_components,
        star_components,
    )

    df = spark.createDataFrame(
        [("a", "h"), ("b", "h"), ("x", "x"), ("h", "h"), ("a", "a")],
        "src: string, dst: string",
    )
    want = {(r["node"], r["component"]) for r in connected_components(df).collect()}
    assert want == {("a", "a"), ("b", "a"), ("h", "a")}
    for checked in (False, True):
        got = {
            (r["node"], r["component"])
            for r in star_components(df, check_invariant=checked).collect()
        }
        assert got == want, checked


def test_pipeline_structural_cc_matches_iterative(spark, source_files_500):
    """The pipeline's per-symbol canonical election gives every def site
    the component the general iterative operator finds on the
    def-collision graph: the graph is one star per symbol, so one
    symbol-keyed aggregation elects each component."""
    from pyjelly_spark.operators import extract as X
    from pyjelly_spark.operators.linking import DEF_SITE_BASE
    from pyjelly_spark.pipeline import PipelineConfig, build_triples
    from tests.test_pipeline import collision_edges

    compact = X.extract_compact(source_files_500)
    iterative = {
        (r["node"], r["component"])
        for r in connected_components(
            collision_edges(compact).select("src", "dst")
        ).collect()
        if r["node"].startswith(DEF_SITE_BASE)
    }
    triples = build_triples(
        compact, PipelineConfig(out_dir="unused", link_calls=False)
    )
    elected = {
        (r["s"]["value"], r["o"]["value"])
        for r in triples.where(F.col("kind_rank") == 7).collect()
    }
    assert elected == iterative and len(elected) > 0
