"""Round-5 additions: PageRank, Lloyd's k-means, weighted sampling,
perplexity bucketing, n-gram diversity — semantics checked against
hand-computed / pure-Python references (the DuckDB oracle covers the
sf0.01 corpus; these pin the algorithms on adversarial small inputs)."""

import pytest

from pyspark.sql import functions as F

from samza_spark.pipeline import graph, sampling, similarity, text


# ---------------------------------------------------------------------------
# pagerank
# ---------------------------------------------------------------------------


def _pagerank_py(edges, n_iters=3):
    """Pure-Python replay of graph.pagerank_exact's integer arithmetic."""
    from collections import defaultdict

    deg = defaultdict(int)
    for s, _ in edges:
        deg[s] += 1
    nodes = sorted({n for e in edges for n in e})
    r = {n: 1_000_000 for n in nodes}
    base = 1_000_000 - (1_000_000 * 17) // 20
    for _ in range(n_iters):
        s = defaultdict(int)
        for a, b in edges:
            s[b] += r[a] // deg[a]
        r = {n: base + (s[n] * 17) // 20 for n in nodes}
    return r


def test_pagerank_matches_python_reference(spark):
    # star + chain: hub 'h' linked to a,b,c (undirected arcs), chain c-d
    pairs = [("h", "a"), ("h", "b"), ("h", "c"), ("c", "d")]
    arcs = pairs + [(b, a) for a, b in pairs]
    edges = spark.createDataFrame(arcs, "src string, dst string")
    got = {
        r["node"]: r["pr_micro"]
        for r in graph.pagerank_exact(edges, n_iters=3).collect()
    }
    assert got == _pagerank_py(arcs, 3)
    # hub outranks leaves; chained node outranks nothing-special leaf
    assert got["h"] > got["a"] == got["b"]
    assert got["c"] > got["a"]


def test_pagerank_dangling_and_determinism(spark):
    # one-way arc into a dangling sink: mass flows in, never out
    edges = spark.createDataFrame(
        [("a", "b"), ("c", "b"), ("b", "a")], "src string, dst string"
    )
    out1 = sorted(graph.pagerank_exact(edges, n_iters=4).collect())
    out2 = sorted(
        graph.pagerank_exact(edges.repartition(7), n_iters=4).collect()
    )
    assert out1 == out2  # partitioning-independent (integer arithmetic)
    got = {r["node"]: r["pr_micro"] for r in out1}
    assert got == _pagerank_py([("a", "b"), ("c", "b"), ("b", "a")], 4)


# ---------------------------------------------------------------------------
# k-means
# ---------------------------------------------------------------------------


def _kmeans_py(vecs, k, n_iters):
    """Pure-Python replay of kmeans_assign_exact: id%k seed, fixed-point
    integer centroid sums, sequential-fold cosine, (sim desc, cluster
    asc) tie-break."""
    import math

    def centroids(assign):
        cents = {}
        groups = {}
        for vid, c in assign.items():
            groups.setdefault(c, []).append(vecs[vid])
        for c, vs in groups.items():
            dim = len(vs[0])
            cents[c] = [
                (
                    sum(math.floor(v[d] * 1_000_000_000) for v in vs)
                )  # exact int sum
                / float(len(vs) * 1_000_000_000)
                for d in range(dim)
            ]
        return cents

    def cos(a, b):
        dot = 0.0
        na = 0.0
        nb = 0.0
        for x, y in zip(a, b):
            dot += x * y
        for x in a:
            na += x * x
        for y in b:
            nb += y * y
        return dot / (math.sqrt(na) * math.sqrt(nb))

    assign = {vid: vid % k for vid in vecs}
    for _ in range(n_iters):
        cents = centroids(assign)
        new = {}
        for vid, v in vecs.items():
            best = max(
                sorted(cents), key=lambda c: (cos(v, cents[c]), -c)
            )
            new[vid] = best
        assign = new
    return assign


def test_kmeans_matches_python_reference(spark):
    import random

    rng = random.Random(7)
    vecs = {
        i: [rng.uniform(-1, 1) for _ in range(4)] for i in range(24)
    }
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<double>",
    )
    out = similarity.kmeans_assign_exact(df, n_clusters=3, n_iters=2)
    got = {r["vec_id"]: r["cluster"] for r in out.collect()}
    assert got == _kmeans_py(vecs, 3, 2)


def test_kmeans_separates_obvious_clusters(spark):
    # two tight orthogonal bundles; 17 even-id A rows vs 5 odd-id B rows,
    # so the id%2 seed starts impure (5 B rows seeded with 17 A rows would
    # be wrong only under a perfectly symmetric init — here bundle A
    # dominates seed 0 and bundle B seed 1, and Lloyd's must keep/finish
    # the separation)
    rows = [(2 * i, [1.0, 0.001 * i, 0.0, 0.0]) for i in range(17)] + [
        (2 * i + 1, [0.0, 0.0, 1.0, 0.001 * i]) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.kmeans_assign_exact(df, n_clusters=2, n_iters=3).collect()
    by_bundle = {}
    for r in out:
        by_bundle.setdefault(r["vec_id"] % 2, set()).add(r["cluster"])
    assert by_bundle[0] == {0} and by_bundle[1] == {1}


# ---------------------------------------------------------------------------
# weighted sampling
# ---------------------------------------------------------------------------


def test_weighted_sample_exact_k_contract(spark):
    df = spark.createDataFrame(
        [(i, 1 + (i % 10)) for i in range(200)] + [(900, 0), (901, -3)],
        "doc_id long, w long",
    )
    out = sampling.weighted_sample_exact_k(df, 25, weight_col="w")
    rows = out.collect()
    assert len(rows) == 25
    ids = {r["doc_id"] for r in rows}
    assert 900 not in ids and 901 not in ids  # non-positive weights excluded
    # deterministic under repartitioning
    again = sampling.weighted_sample_exact_k(df.repartition(13), 25, weight_col="w")
    assert sorted(rows) == sorted(again.collect())
    # a different salt draws a different sample
    other = sampling.weighted_sample_exact_k(df, 25, weight_col="w", salt="x")
    assert {r["doc_id"] for r in other.collect()} != ids


def test_weighted_sample_prefers_heavy_rows(spark):
    # weight 1000 vs 1: heavy rows should dominate a half-size sample
    df = spark.createDataFrame(
        [(i, 1000 if i < 50 else 1) for i in range(100)],
        "doc_id long, w long",
    )
    out = sampling.weighted_sample_exact_k(df, 50, weight_col="w").collect()
    heavy = sum(1 for r in out if r["doc_id"] < 50)
    assert heavy >= 45  # overwhelming odds under priority sampling


# ---------------------------------------------------------------------------
# perplexity buckets / n-gram diversity
# ---------------------------------------------------------------------------


def test_perplexity_buckets_ordering_and_sizes(spark):
    rows = [
        (i, ("common words repeated " * 5) if i % 2 else "rare unikat %d" % i)
        for i in range(30)
    ] + [(99, "   ")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = text.perplexity_buckets(df, n_buckets=3).collect()
    assert len(out) == 30  # the blank doc is excluded
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r["bucket"], []).append(r["score_micro"])
    assert sorted(by_bucket) == [1, 2, 3]
    assert max(len(v) for v in by_bucket.values()) - min(
        len(v) for v in by_bucket.values()
    ) <= 1
    # bucket boundaries are monotone in score
    assert max(by_bucket[1]) <= min(by_bucket[2])
    assert max(by_bucket[2]) <= min(by_bucket[3])


def test_ngram_diversity_hand_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "a", "x y x y"),      # bigrams: x y / y x / x y -> 2 distinct of 3
            (2, "a", "x y"),          # bigram:  x y             -> dup of above
            (3, "b", "solo"),         # no bigram (1 token)
            (4, "b", ""),             # no bigram (empty)
        ],
        "doc_id long, source string, text string",
    )
    out = {r["source"]: r for r in text.ngram_diversity(df, n=2).collect()}
    assert out["a"]["n_ngrams"] == 4
    assert out["a"]["n_distinct"] == 2
    assert out["a"]["diversity_micro"] == 500_000
    assert "b" not in out  # zero bigrams -> no row (oracle-matched shape)


def test_pagerank_salted_and_checkpointed_identical(spark):
    # hub-heavy graph: salted two-phase aggregation and per-iteration
    # checkpointing must be bit-identical to the plain path
    arcs = [("hub", f"n{i}") for i in range(20)] + [
        (f"n{i}", "hub") for i in range(20)
    ]
    edges = spark.createDataFrame(arcs, "src string, dst string")
    plain = sorted(graph.pagerank_exact(edges, n_iters=6).collect())
    salted = sorted(
        graph.pagerank_exact(edges, n_iters=6, n_salts=4).collect()
    )
    chk = sorted(
        graph.pagerank_exact(edges, n_iters=6, checkpoint_every=2).collect()
    )
    assert plain == salted == chk


# ---------------------------------------------------------------------------
# co-occurrence edges / triangle counts
# ---------------------------------------------------------------------------


def test_cooccurrence_edges_hand_graph(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (1, "c"), (2, "b"), (2, "c"), (3, "a"), (3, "a")],
        "grp long, item string",
    )
    got = sorted(
        tuple(r)
        for r in graph.cooccurrence_edges(df, "grp", "item").collect()
    )
    assert got == [("a", "b"), ("a", "c"), ("b", "c")]


def test_cooccurrence_hub_group_capped(spark):
    rows = [(1, f"i{k}") for k in range(50)] + [(2, "x"), (2, "y")]
    df = spark.createDataFrame(rows, "grp long, item string")
    got = sorted(
        tuple(r)
        for r in graph.cooccurrence_edges(
            df, "grp", "item", max_group_size=10
        ).collect()
    )
    assert got == [("x", "y")]  # the 50-item group is skipped, not expanded


def test_triangle_counts_hand_graph(spark):
    # K4 on {a,b,c,d} minus edge (c,d): triangles abc and abd ->
    # a:2 b:2 c:1 d:1; node e in no triangle
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("d", "e")],
        "a string, b string",
    )
    got = {
        r["node"]: r["n_triangles"]
        for r in graph.triangle_counts(edges).collect()
    }
    assert got == {"a": 2, "b": 2, "c": 1, "d": 1}


def test_triangle_counts_degree_tie_orientation(spark):
    # a 3-cycle where every node has degree 2 (all ties) must still count
    # exactly one triangle per node
    edges = spark.createDataFrame(
        [("x", "y"), ("x", "z"), ("y", "z")], "a string, b string"
    )
    got = {
        r["node"]: r["n_triangles"]
        for r in graph.triangle_counts(edges).collect()
    }
    assert got == {"x": 1, "y": 1, "z": 1}


def test_kmeans_model_persist_roundtrip(spark, tmp_path):
    import random

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    want = sorted(
        tuple(r)
        for r in similarity.kmeans_assign_exact(df, n_clusters=3, n_iters=2).collect()
    )
    cents = similarity.kmeans_centroids_exact(df, n_clusters=3, n_iters=2)
    similarity.save_centroids(cents, str(tmp_path / "model"))
    loaded = similarity.load_centroids(spark, str(tmp_path / "model"))
    got = sorted(
        tuple(r)
        for r in similarity.assign_to_centroids(df, loaded).collect()
    )
    assert got == want  # train-once model replays the in-loop assignment


def test_assign_to_centroids_is_map_only(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cluster int, cv array<double>"
    )
    out = similarity.assign_to_centroids(df, cents)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # only the one-row centroid broadcast; no hash Exchange, no Window
    assert "Exchange hashpartitioning" not in plan
    assert "Window" not in plan
    got = {r["vec_id"]: r["cluster"] for r in out.collect()}
    assert got == {1: 0, 2: 1}


# ---------------------------------------------------------------------------
# sampler nesting properties
# ---------------------------------------------------------------------------


def test_weighted_sample_nested_subset(spark):
    # the k smallest priorities are a prefix of the k' smallest (k < k'):
    # growing a sample never swaps out earlier picks
    df = spark.createDataFrame(
        [(i, 1 + (i * 13) % 29) for i in range(300)], "doc_id long, w long"
    )
    small = {r["doc_id"] for r in sampling.weighted_sample_exact_k(df, 10, "w").collect()}
    big = {r["doc_id"] for r in sampling.weighted_sample_exact_k(df, 40, "w").collect()}
    assert small < big


def test_stratified_exact_k_nested_and_exact(spark):
    rows = [(i, "s%d" % (i % 4)) for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id long, stratum string")
    k5 = sampling.stratified_sample_exact_k(df, 5, "stratum").collect()
    k9 = sampling.stratified_sample_exact_k(df, 9, "stratum").collect()
    by5 = {}
    for r in k5:
        by5.setdefault(r["stratum"], set()).add(r["doc_id"])
    by9 = {}
    for r in k9:
        by9.setdefault(r["stratum"], set()).add(r["doc_id"])
    for s in by5:
        assert len(by5[s]) == 5 and len(by9[s]) == 9
        assert by5[s] < by9[s]  # nested per stratum


# ---------------------------------------------------------------------------
# large-star/small-star connected components
# ---------------------------------------------------------------------------


def test_star_cc_matches_propagation_on_random_graph(spark):
    import random

    from samza_spark.pipeline.dedup import connected_components

    rng = random.Random(3)
    pairs = list(
        {
            tuple(sorted(rng.sample(range(60), 2)))
            for _ in range(70)
        }
    )
    # a node whose only edge is a self-loop is its own component in both
    pairs.append((99, 99))
    df = spark.createDataFrame(pairs, "a long, b long")
    star = {
        r["doc_id"]: r["component"]
        for r in graph.connected_components_star(df).collect()
    }
    prop = {
        r["doc_id"]: r["component"]
        for r in connected_components(df).collect()
    }
    assert star == prop


def test_star_cc_converges_on_long_chain(spark):
    # a 64-node path: min-label propagation moves the label ONE hop per
    # round (needs 63 rounds — over dedup.connected_components' default
    # cap), while star contraction needs O(log n) rounds
    n = 64
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a long, b long"
    )
    got = {
        r["doc_id"]: r["component"]
        for r in graph.connected_components_star(df).collect()
    }
    assert got == {i: 0 for i in range(n)}


def _pagerank_py_ext(arcs, n_iters=3, weights=None, seeds=None):
    """Weighted/personalized replay of pagerank_exact's integer updates."""
    from collections import defaultdict

    weights = weights or {a: 1 for a in arcs}
    W = defaultdict(int)
    for a in arcs:
        W[a[0]] += weights[a]
    nodes = sorted({n for e in arcs for n in e})
    seed_set = set(seeds) if seeds is not None else set(nodes)
    r = {n: (1_000_000 if n in seed_set else 0) for n in nodes}
    base = 1_000_000 - (1_000_000 * 17) // 20
    for _ in range(n_iters):
        s = defaultdict(int)
        for a in arcs:
            s[a[1]] += (r[a[0]] * weights[a]) // W[a[0]]
        r = {
            n: (base if n in seed_set else 0) + (s[n] * 17) // 20
            for n in nodes
        }
    return r


def test_pagerank_weighted_matches_reference(spark):
    arcs = [("a", "b", 3), ("a", "c", 1), ("b", "a", 2), ("c", "a", 2)]
    edges = spark.createDataFrame(arcs, "src string, dst string, w long")
    got = {
        r["node"]: r["pr_micro"]
        for r in graph.pagerank_exact(edges, n_iters=4, weight_col="w").collect()
    }
    want = _pagerank_py_ext(
        [(a, b) for a, b, _ in arcs],
        4,
        weights={(a, b): w for a, b, w in arcs},
    )
    assert got == want
    # 3x weight toward b must outrank c
    assert got["b"] > got["c"]


def test_pagerank_personalized_ranks_near_seed(spark):
    # chain a-b-c-d (undirected arcs); personalize on {a}: rank decays
    # with distance from the seed
    pairs = [("a", "b"), ("b", "c"), ("c", "d")]
    arcs = pairs + [(y, x) for x, y in pairs]
    edges = spark.createDataFrame(arcs, "src string, dst string")
    seeds = spark.createDataFrame([("a",)], "node string")
    got = {
        r["node"]: r["pr_micro"]
        for r in graph.pagerank_exact(edges, n_iters=6, seeds=seeds).collect()
    }
    assert got == _pagerank_py_ext(arcs, 6, seeds={"a"})
    # per-node ordering on a path OSCILLATES with iteration parity
    # (bipartite structure sloshes mass between the even/odd sides), so
    # assert the parity-stable property: the seed half of the chain
    # holds more mass than the far half
    assert got["a"] + got["b"] > got["c"] + got["d"]
    assert got["d"] < max(got.values())


def test_hits_bipartite_hand_graph(spark):
    # c1 -> {s1, s2}, c2 -> {s1}: s1 is the stronger authority, c1 the
    # stronger hub; sources have zero authority, sinks zero hub score
    edges = spark.createDataFrame(
        [("c1", "s1"), ("c1", "s2"), ("c2", "s1")], "src string, dst string"
    )
    out = {r["node"]: (r["hub_micro"], r["auth_micro"])
           for r in graph.hits_exact(edges, n_iters=2).collect()}
    assert out["s1"][1] == 1_000_000          # max authority (rescaled)
    assert out["s1"][1] > out["s2"][1] > 0
    assert out["c1"][0] == 1_000_000          # max hub
    assert out["c1"][0] > out["c2"][0] > 0
    assert out["c1"][1] == 0 and out["s1"][0] == 0  # pure sides
    # partitioning invariance (integer arithmetic)
    again = {r["node"]: (r["hub_micro"], r["auth_micro"])
             for r in graph.hits_exact(edges.repartition(7), n_iters=2).collect()}
    assert again == out
