"""Link-graph centrality operators for corpus curation.

Public pipelines weight sources by link-graph importance (PageRank over
the web host graph — Page et al. 1999; e.g. host-level quality priors in
public crawl-curation writeups). The reference engine has no graph
operator at all (its closest shape is an iterated stream-table join);
here PageRank is expressed as the classic Spark iteration — per round
ONE equi-join of ranks against the edge list plus ONE destination-keyed
aggregation — with the edge list hash-partitioned once and reused so
every iteration's join is Exchange-free on the edge side.

Determinism contract: ranks are integers in micro-units and every update
uses integer multiply + integer division only (``div``), so the result
is bit-reproducible across engines and partitionings — a DuckDB oracle
replays each iteration as a WITH chain. (Float PageRank sums in shuffle
order and is NOT reproducible; fixed-point is the price of an exact
oracle and costs nothing at runtime.)

Scale notes (100 TB graph):
- The per-iteration shuffle is keyed by node id — skewed in-degree
  (a hub host) concentrates one reducer; ``n_salts > 1`` switches on
  the two-phase salted aggregation (partial-sum on (dst, salt-of-src),
  then final sum on dst — the ``governance.source_caps`` pattern),
  bit-identical because integer sums are associative.
- Unrolled iterative plans grow linearly in lineage; ``checkpoint_every``
  truncates with an eager localCheckpoint so a 20-iteration run doesn't
  re-analyze a 20-deep join chain per job (the standard iterative-Spark
  hygiene; results unchanged — the arithmetic is integer-exact).
- Dangling nodes (no out-edges) leak their mass — the standard
  simplification when ranks are only consumed as relative weights; the
  redistribution term would be one extra scalar aggregate per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

MICRO = 1_000_000


def bipartite_order_edges(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Undirected customer-supplier interaction graph from the order
    tables, stored as two directed arcs per distinct pair: an order by
    customer c containing a line from supplier s yields c:-s: and s:-c:
    arcs. Node ids are prefixed strings ('c:123' / 's:45') so the two key
    spaces cannot collide. One join + one distinct — both on the order
    key / pair key, broadcast-eligible on the orders side when small."""
    pairs = (
        orders.select("o_orderkey", "o_custkey")
        .join(lineitem.select("l_orderkey", "l_suppkey"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("a"),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("b"),
        )
        .distinct()
    )
    # both arcs from ONE pass over the distinct pairs (a unionByName of
    # two selects evaluates the join+distinct subtree twice — plan-checked)
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def cooccurrence_edges(
    df: DataFrame,
    group_col: str,
    item_col: str,
    max_group_size: int = 1000,
) -> DataFrame:
    """Undirected co-occurrence edge list: items sharing a group key
    (suppliers sharing an order, terms sharing a document...) become an
    (a, b) edge with a < b, distinct across groups. One group-keyed
    collect_set + in-group pair expansion — the same bounded-bucket
    idiom as LSH pair generation, with ``max_group_size`` guarding the
    quadratic blowup of a degenerate hub group (capped groups are
    SKIPPED and counted; raise the cap or pre-filter if the census
    matters)."""
    groups = df.groupBy(group_col).agg(
        F.array_sort(F.collect_set(item_col)).alias("ms")
    )
    pair_expr = (
        "if(size(ms) between 2 and {cap}, "
        "flatten(transform(sequence(1, size(ms) - 1), i -> "
        "transform(sequence(0, i - 1), j -> struct(ms[j] AS a, ms[i] AS b)))), "
        "array())"
    ).format(cap=int(max_group_size))
    return (
        groups.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .distinct()
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over an undirected (a < b) edge list —
    the clustering-coefficient numerator used in graph-quality audits.

    Degree-ordered orientation (the classic O(m^1.5) trick — cf.
    Suri & Vassilvitskii WWW'11 MapReduce triangle counting): every edge
    is directed from its LOWER-(degree, id) endpoint, making wedge
    fan-out per vertex at most its oriented out-degree (~sqrt(m) after
    orientation), so a celebrity node never expands deg^2 wedges. Each
    triangle then has exactly ONE vertex with out-edges to the other
    two, so it is generated exactly once; the wedge list is closed by an
    equi-join back against the undirected edge set.

    Returns (node, n_triangles) for every node in at least one triangle.
    Plan: two equi-joins + one aggregate — no cartesian anywhere.
    """
    deg = (
        edges.select(F.explode(F.array("a", "b")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    oriented = (
        edges.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
            )
            .otherwise(
                F.struct(F.col("b").alias("src"), F.col("a").alias("dst"))
            )
            .alias("e")
        )
        .select("e.src", "e.dst")
    )
    o1 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    o2 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    wedges = o1.join(o2, "u").where(F.col("v") < F.col("w"))
    # v < w and the edge list is (a < b)-normalized, so the closure is a
    # plain two-key equi semi-join
    closed = wedges.join(
        edges,
        (F.col("v") == F.col("a")) & (F.col("w") == F.col("b")),
        "left_semi",
    )
    # one pass: a 3-branch union would re-run the whole wedge+closure
    # pipeline per branch (measured 3x the work)
    tri_nodes = closed.select(
        F.explode(F.array("u", "v", "w")).alias("node")
    )
    return tri_nodes.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def pagerank_exact(
    edges: DataFrame,
    n_iters: int = 3,
    damping_num: int = 17,
    damping_den: int = 20,
    rank_col: str = "pr_micro",
    n_salts: int = 1,
    checkpoint_every: int = 5,
    weight_col: str | None = None,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Fixed-point integer PageRank: ``n_iters`` rounds of

        r'(v) = (1 - d) * MICRO  +  d * sum over in-edges of r(u) div deg(u)

    with d = damping_num/damping_den applied as ``(x * num) div den`` —
    all-integer, so the output is independent of shuffle order and
    engine. Initial rank is MICRO (1.0) per node; ranks are relative
    weights summing to ~N*MICRO (minus dangling/rounding loss).

    Returns (node, ``rank_col``) for every node that appears in
    ``edges``. The edge list (with out-degrees attached) and the node
    table are computed once, persisted, and re-joined each round — the
    join sides that do not change never re-shuffle.

    ``n_salts > 1`` aggregates contributions in two phases —
    (dst, xxhash(src) % n_salts) partials first, then dst — spreading a
    hub's in-edge sum over ``n_salts`` reducers; output identical
    (integer sums are associative; asserted in tests).

    ``weight_col`` names an INTEGER edge-weight column (e.g. co-order
    counts): each round splits a node's rank proportionally —
    ``(r * w) div W_u`` with W_u the node's total out-weight — still
    all-integer, still bit-reproducible. ``seeds`` (a one-column
    ``node`` DataFrame) switches to PERSONALIZED PageRank: the
    teleport/base mass lands only on the seed set (Haveliwala 2002
    topic-sensitive PR), ranking nodes by proximity to the seeds.
    """
    if n_iters < 1:
        raise ValueError("n_iters must be >= 1")
    w = F.col(weight_col).cast("long") if weight_col else F.lit(1)
    deg = (
        edges.select("src", w.alias("__w"))
        .groupBy("src")
        .agg(F.sum("__w").alias("deg"))
    )
    ed = (
        edges.select("src", "dst", w.alias("__w"))
        .join(deg, on="src")
        .select("src", "dst", "__w", "deg")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    nodes = (
        edges.select(F.explode(F.array("src", "dst")).alias("node"))
        .distinct()
    )
    if seeds is not None:
        nodes = nodes.join(
            F.broadcast(seeds.select(F.col("node").alias("__sn"))),
            nodes.node == F.col("__sn"),
            "left",
        ).select("node", F.col("__sn").isNotNull().alias("__is_seed"))
    else:
        nodes = nodes.select("node", F.lit(True).alias("__is_seed"))
    nodes = nodes.persist(StorageLevel.MEMORY_AND_DISK)
    base = MICRO - (MICRO * damping_num) // damping_den
    base_expr = F.when(F.col("__is_seed"), F.lit(base)).otherwise(F.lit(0))
    ranks = nodes.select(
        "node",
        F.when(F.col("__is_seed"), F.lit(MICRO))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("r"),
    )
    for i in range(n_iters):
        joined = ed.join(ranks, ed.src == ranks.node).select(
            "src", "dst", F.expr("(r * __w) div deg").alias("c")
        )
        if n_salts > 1:
            partial = (
                joined.withColumn(
                    "__salt", F.pmod(F.xxhash64("src"), F.lit(int(n_salts)))
                )
                .groupBy("dst", "__salt")
                .agg(F.sum("c").alias("cp"))
            )
            contrib = partial.groupBy("dst").agg(F.sum("cp").alias("s"))
        else:
            contrib = joined.groupBy("dst").agg(F.sum("c").alias("s"))
        ranks = nodes.join(contrib, nodes.node == contrib.dst, "left").select(
            "node",
            (
                base_expr
                + F.expr(f"(coalesce(s, 0) * {damping_num}) div {damping_den}")
            ).cast("long").alias("r"),
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0 and i + 1 < n_iters:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select("node", F.col("r").alias(rank_col))


def connected_components_star(
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_rounds: int = 12,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond") — converges in O(log n) rounds versus the component
    DIAMETER rounds of min-label propagation
    (``dedup.connected_components``), which silently under-converges on
    long chains once its iteration cap is hit. This is the CC to use
    when components can be elongated (citation chains, link paths);
    near-dup clusters are dense, so either works there.

    Per round each star operation is ONE node-keyed min aggregate +
    ONE equi-join back to the edges (no adjacency lists are ever
    collected — hub nodes stay distributed), then a distinct. The edge
    set monotonically contracts toward stars around each component's
    minimum; convergence is detected by edge-set stability and verified
    (raises if ``max_rounds`` was insufficient — 2^12 ~ 4096-fold label
    shortening covers any realistic graph).

    Returns (id_col, component) — identical contract and values to
    ``dedup.connected_components``, including a node whose only edge is a
    self-loop: it is its own component. Self-loops are kept for that
    reason; each round leaves one on every node that is its own
    neighbourhood minimum, so at the fixed point each component's center
    carries one and an isolated self-loop node never drops out.
    """
    sym = (
        pairs.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionByName(pairs.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def star(edges: DataFrame, large: bool) -> DataFrame:
        mins = edges.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        joined = edges.join(mins, on="u")
        if large:
            kept = joined.where(F.col("v") > F.col("u"))
        else:
            kept = joined.where(F.col("v") <= F.col("u"))
        out = (
            kept.select(F.col("v").alias("a"), F.col("m").alias("b"))
            .unionByName(
                mins.select(F.col("u").alias("a"), F.col("m").alias("b"))
            )
            .select(
                F.least("a", "b").alias("x"), F.greatest("a", "b").alias("y")
            )
            .distinct()
        )
        # re-symmetrize for the next round's per-node neighborhoods (a
        # self-loop is its own mirror, so it is emitted once)
        return (
            out.select(F.col("x").alias("u"), F.col("y").alias("v"))
            .unionByName(
                out.where(F.col("x") != F.col("y"))
                .select(F.col("y").alias("u"), F.col("x").alias("v"))
            )
            .localCheckpoint(eager=True)
        )

    edges = sym
    prev_fp = None
    converged = False
    for _ in range(max_rounds):
        edges = star(star(edges, large=True), large=False)
        fp = (
            edges.select(
                # bit_xor, not sum: ANSI mode overflows on summed 64-bit
                # hashes; xor is order-free and can't overflow
                F.expr("bit_xor(xxhash64(u, v))").alias("s"),
                F.count(F.lit(1)).alias("c"),
            ).first()
        )
        fp = (fp["s"], fp["c"])
        if fp == prev_fp:
            converged = True
            break
        prev_fp = fp
    if not converged:
        raise RuntimeError(
            f"star CC did not converge in {max_rounds} rounds — "
            "raise max_rounds (graph has astronomically long chains?)"
        )
    # the fixed point is a star forest: every node's min neighbor is its
    # component representative; centers map to themselves
    labels = edges.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("component")
    )
    return labels.select(F.col("u").alias(id_col), "component")


def hits_exact(
    edges: DataFrame,
    n_iters: int = 2,
    hub_col: str = "hub_micro",
    auth_col: str = "auth_micro",
) -> DataFrame:
    """Fixed-point integer HITS (Kleinberg 1999 hubs-and-authorities) on
    a DIRECTED edge list: per round

        a'(v) = sum over u->v of h(u),    rescaled to max = MICRO
        h'(u) = sum over u->v of a'(v),   rescaled to max = MICRO

    The max-rescale replaces HITS' L2 normalization with an integer
    ``x * MICRO div max(x)`` — one scalar aggregate per half-round —
    keeping every value engine- and shuffle-order-reproducible (L2
    would make every score an order-sensitive float). On a bipartite
    interaction graph hubs score the pointing side and authorities the
    pointed-to side.

    Scale shape per half-round: one edge-keyed equi-join + one
    destination-keyed integer aggregate (map-side combinable) + a
    broadcast scalar — the PageRank machinery with a second score
    vector. Returns (node, hub_micro, auth_micro).
    """
    if n_iters < 1:
        raise ValueError("n_iters must be >= 1")
    ed = edges.select("src", "dst").distinct().persist(StorageLevel.MEMORY_AND_DISK)
    nodes = (
        ed.select(F.explode(F.array("src", "dst")).alias("node"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    h = nodes.select("node", F.lit(MICRO).cast("long").alias("x"))
    a = None
    for _ in range(n_iters):
        # Each half-round's raw sum vector is referenced TWICE (the
        # scalar max and the rescale join). Materialize it eagerly:
        # unpersisted, the max's broadcast job re-evaluated the whole
        # subtree, and because each half-round builds on the last, the
        # recompute count doubled per half-round (2^(2*n_iters) leaf
        # evaluations by the final action).
        a_raw = (
            ed.join(h, ed.src == h.node)
            .groupBy("dst")
            .agg(F.sum("x").alias("s"))
            .localCheckpoint(eager=True)
        )
        amax = a_raw.agg(F.max("s").alias("__m"))
        a = (
            nodes.join(a_raw, nodes.node == a_raw.dst, "left")
            .join(F.broadcast(amax))
            .select(
                "node",
                F.expr("coalesce(s, 0) * 1000000 div greatest(__m, 1)")
                .cast("long")
                .alias("x"),
            )
        )
        h_raw = (
            ed.join(a, ed.dst == a.node)
            .groupBy("src")
            .agg(F.sum("x").alias("s"))
            .localCheckpoint(eager=True)
        )
        hmax = h_raw.agg(F.max("s").alias("__m"))
        h = (
            nodes.join(h_raw, nodes.node == h_raw.src, "left")
            .join(F.broadcast(hmax))
            .select(
                "node",
                F.expr("coalesce(s, 0) * 1000000 div greatest(__m, 1)")
                .cast("long")
                .alias("x"),
            )
        )
    return (
        nodes.join(
            h.select(F.col("node").alias("__hn"), F.col("x").alias(hub_col)),
            nodes.node == F.col("__hn"),
        )
        .join(
            a.select(F.col("node").alias("__an"), F.col("x").alias(auth_col)),
            nodes.node == F.col("__an"),
        )
        .select("node", hub_col, auth_col)
    )


def symmetric_arcs(edges: DataFrame) -> DataFrame:
    """Both directed arcs of an undirected (a, b) edge list, from ONE
    pass (explode of a 2-struct array, not a union re-evaluating the
    edge subtree twice)."""
    return edges.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def kcore_peel(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 3,
    checkpoint: bool = True,
) -> DataFrame:
    """``rounds`` rounds of k-core peeling: repeatedly delete every node
    of degree < ``k`` (with its edges) — the standard dense-subgraph /
    spam-farm extraction primitive. A fixed round count keeps the job a
    bounded DAG (production peeling caps rounds too; each round can only
    shrink the graph, and most graphs stabilize in a handful).

    Per round: one degree aggregate (map-side combinable count) + two
    hash semi-joins of the arc list against the surviving-node set —
    all equi-joins on the node key, nothing quadratic, no global sort.
    Lineage is truncated via localCheckpoint every other round so the
    plan doesn't deepen linearly with ``rounds``.

    Input ``edges`` is an undirected distinct (a, b) list; returns
    ``(node, degree)`` — the degree *within the peeled subgraph* after
    the final round.
    """
    sym = symmetric_arcs(edges)
    for r in range(rounds):
        deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
        keep = deg.filter(F.col("__deg") >= k).select("src")
        sym = (
            sym.join(keep, on="src", how="left_semi")
            .join(
                keep.select(F.col("src").alias("dst")), on="dst", how="left_semi"
            )
        )
        if checkpoint and r % 2 == 1:
            sym = sym.localCheckpoint(eager=False)
    return (
        sym.groupBy("src")
        .agg(F.count(F.lit(1)).alias("degree"))
        .select(F.col("src").alias("node"), "degree")
    )


def n_hop_reachability(
    edges: DataFrame,
    seeds: DataFrame,
    hops: int = 2,
) -> DataFrame:
    """Multi-source BFS to a bounded depth: every node reachable from
    ``seeds`` (a one-column ``node`` frame) within ``hops`` undirected
    hops, labeled with its MINIMUM hop distance — the expansion primitive
    behind contamination blast-radius and graph feature extraction.

    Per hop: one hash join frontier->arcs + distinct + one anti-join
    against the visited set — all equi-joins on the node key; the
    frontier can only touch each node once, so total work is O(edges *
    hops) worst case and usually far less. Returns ``(node, hop)``.
    """
    sym = symmetric_arcs(edges)
    visited = seeds.select(F.col("node"), F.lit(0).alias("hop"))
    frontier = seeds.select("node")
    for h in range(1, hops + 1):
        nxt = (
            sym.join(
                frontier.select(F.col("node").alias("src")),
                on="src",
                how="left_semi",
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), on="node", how="left_anti")
        )
        visited = visited.unionByName(
            nxt.select("node", F.lit(h).alias("hop"))
        ).localCheckpoint(eager=False)
        frontier = nxt
    return visited


def label_propagation(
    edges: DataFrame,
    n_iters: int = 3,
    label_col: str = "label",
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007) made DETERMINISTIC: every node starts labeled with its own
    id; each round it adopts the most frequent label among its
    neighbors, ties broken by the smallest label. The classic
    formulation updates asynchronously in random order (results vary
    run-to-run); the synchronous min-tie-break variant is a pure
    function of the graph, so a SQL oracle can replay it round for
    round. Every node also casts ONE vote for its own current label —
    the standard damping that stops the 2-cycle oscillation synchronous
    LPA exhibits on bipartite structures (a bare edge flips labels
    forever without it).

    Per round: ONE edge-keyed join (labels shuffled on node id), a
    (node, label) count aggregate (map-side-combinable), and an argmax
    via ``min(struct(-count, label))`` — no windows, no per-node row
    explosion beyond the adjacency itself. Nodes with no in-arcs keep
    their label via the self vote. ``edges`` are (src, dst) arcs; pass a
    symmetrized list (graph.symmetric_arcs) for undirected semantics.

    Returns (node, ``label_col``). Lineage is checkpointed every few
    rounds like pagerank_exact.
    """
    if n_iters < 1:
        raise ValueError("n_iters must be >= 1")
    arcs = edges.select("src", "dst").persist(StorageLevel.MEMORY_AND_DISK)
    nodes = (
        arcs.select(F.explode(F.array("src", "dst")).alias("node"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = nodes.select("node", F.col("node").alias("lb"))
    for i in range(n_iters):
        votes = arcs.join(labels, arcs.src == labels.node).select(
            F.col("dst").alias("__n"), "lb"
        ).unionByName(labels.select(F.col("node").alias("__n"), "lb"))
        counts = votes.groupBy("__n", "lb").agg(F.count(F.lit(1)).alias("c"))
        best = counts.groupBy("__n").agg(
            F.min(F.struct((-F.col("c")).alias("nc"), F.col("lb").alias("lb"))).alias(
                "b"
            )
        )
        labels = best.select(F.col("__n").alias("node"), F.col("b.lb").alias("lb"))
        # checkpoint every 3 rounds INCLUDING the last one that lands on
        # the boundary: the old `i + 1 < n_iters` guard meant the common
        # n_iters=3 call returned a fully lazy 3-round DAG, which a
        # caller referencing it more than once (community_modularity
        # scans the label table three times) re-ran per reference
        if (i + 1) % 3 == 0:
            labels = labels.localCheckpoint(eager=True)
    return labels.select("node", F.col("lb").alias(label_col))


def sssp_bellman_ford(
    edges: DataFrame,
    sources: DataFrame,
    n_rounds: int = 4,
    weight_col: str = "w",
    dist_col: str = "dist",
) -> DataFrame:
    """Single/multi-source shortest paths over INTEGER edge weights:
    ``n_rounds`` of distributed Bellman-Ford relaxation. Nodes absent
    from the frontier are at infinity (simply not present) — state stays
    proportional to the reached set, and each round is one edge-keyed
    join plus a min aggregate (map-side-combinable, all-integer, so
    engine- and shuffle-order-independent). After ``n_rounds`` the
    result is exact for every node within ``n_rounds`` hops — the
    bounded-round form that a 100 TB graph actually runs (full
    convergence composes by re-feeding the output as ``sources`` with
    its distances).

    ``edges`` = (src, dst, ``weight_col``) directed arcs; ``sources`` =
    one-column ``node`` DataFrame (distance 0). Returns (node,
    ``dist_col``) for all reached nodes.
    """
    if n_rounds < 1:
        raise ValueError("n_rounds must be >= 1")
    arcs = edges.select(
        "src", "dst", F.col(weight_col).cast("long").alias("__w")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    dist = sources.select(
        "node", F.lit(0).cast("long").alias("d")
    ).distinct()
    for i in range(n_rounds):
        relaxed = arcs.join(dist, arcs.src == dist.node).select(
            F.col("dst").alias("node"), (F.col("d") + F.col("__w")).alias("d")
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("d").alias("d"))
        )
        if (i + 1) % 3 == 0 and i + 1 < n_rounds:
            dist = dist.localCheckpoint(eager=True)
    return dist.select("node", F.col("d").alias(dist_col))


def temporal_reachability(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    ts_col: str = "t",
) -> DataFrame:
    """Time-respecting reachability over a temporal edge list: a path
    may only traverse edges whose timestamp is >= the arrival time at
    the edge's source (Holme & Saramäki's temporal-network reachability
    — the influence/contagion primitive static BFS gets WRONG, since a
    static path may use an edge that fired before you arrived).

    Per node the MINIMUM arrival time dominates (an earlier arrival can
    take every edge a later one can), so the frontier state is one
    (node, min_arrival) row per node. Each of the bounded ``max_hops``
    rounds: frontier ⋈ edges on src with the time residual, min-arrival
    per dst, merge keeping the minimum — all equi-joins + combinable
    aggregates, lineage truncated per round. Seeds arrive at time
    -infinity (their own events all count).

    Returns ``(node, arrival_us, hops)`` with hops = the round that
    first achieved the minimal arrival.
    """
    frontier = seeds.select(
        F.col(src_col).alias("node"),
        F.lit(-(1 << 62)).cast("long").alias("arrival"),
        F.lit(0).alias("hops"),
    ).distinct()
    reach = frontier.localCheckpoint(eager=True)
    e = edges.select(
        F.col(src_col).alias("esrc"),
        F.col(dst_col).alias("edst"),
        F.col(ts_col).cast("long").alias("et"),
    )
    frontier = reach
    for hop in range(1, int(max_hops) + 1):
        steps = (
            frontier.join(e, frontier["node"] == e["esrc"])
            .filter(F.col("et") >= F.col("arrival"))
            .groupBy(F.col("edst").alias("node"))
            .agg(F.min("et").alias("arrival"))
            .withColumn("hops", F.lit(hop))
        )
        # keep the per-node minimum (earlier arrival, then fewer hops)
        merged = (
            reach.unionByName(steps)
            .groupBy("node")
            .agg(
                F.min(F.struct("arrival", "hops")).alias("__best")
            )
            .select(
                "node",
                F.col("__best.arrival").alias("arrival"),
                F.col("__best.hops").alias("hops"),
            )
            .localCheckpoint(eager=True)
        )
        # next frontier: nodes whose best arrival changed this round
        frontier = merged.join(
            reach.select("node", F.col("arrival").alias("__old")),
            on="node",
            how="left",
        ).filter(
            F.col("__old").isNull() | (F.col("arrival") < F.col("__old"))
        ).select("node", "arrival", "hops")
        reach = merged
    return reach.select(
        "node", F.col("arrival").alias("arrival_us"), "hops"
    )


def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """Per-node local clustering coefficient in exact ppm:
    ``2 * triangles(v) * 1e6 div (deg(v) * (deg(v) - 1))`` — the
    graph-quality companion of :func:`triangle_counts`, reusing its
    degree-ordered oriented enumeration (no deg^2 wedge blowup at a
    celebrity node). Nodes of degree < 2 are excluded (coefficient
    undefined); triangle-free nodes report 0.

    Plan: the triangle pipeline + one degree aggregate + a broadcastable
    left join — nothing quadratic anywhere.
    """
    tri = triangle_counts(edges)
    deg = (
        edges.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        deg.filter(F.col("degree") >= 2)
        .join(tri, "node", "left")
        .select(
            "node",
            F.col("degree").cast("long").alias("degree"),
            F.coalesce(F.col("n_triangles"), F.lit(0))
            .cast("long")
            .alias("n_triangles"),
            F.expr(
                "(2 * coalesce(n_triangles, 0) * 1000000) "
                "div (degree * (degree - 1))"
            ).alias("coeff_ppm"),
        )
    )


def community_modularity(
    edges: DataFrame, labels: DataFrame, label_col: str = "label"
) -> DataFrame:
    """Per-community modularity contributions for a node partition
    (e.g. :func:`label_propagation` output) over an undirected
    (a < b) edge list — the standard community-quality score
    Q = sum_c (e_c/m - (d_c/2m)^2), carried as the exact integer
    numerator ``q_num = 4*m*e_c - d_c^2`` over the constant
    denominator 4*m^2 (every row also reports ``m_edges``), so the
    score crosses engines with no float division.

    Plan: two label lookups on the edge list (node-keyed joins), one
    internal-edge count, one degree aggregate — all combinable; the
    community table is output-sized.
    """
    # the label table is scanned three times below (both edge endpoints
    # + the degree rollup); materialize it once so a lazy upstream
    # pipeline (e.g. label_propagation rounds) cannot run per reference.
    # Node-scale data — the materialization is tiny next to one rerun.
    # Skip when the caller already hands us a materialized table (a
    # cached/checkpointed input would otherwise be copied again — and a
    # lazy plan-builder should not submit an avoidable job at call time):
    # a LogicalRDD/InMemoryRelation leaf IS the materialization.
    plan0 = labels._jdf.queryExecution().optimizedPlan().toString()
    first_line = plan0.splitlines()[0] if plan0 else ""
    if not (
        "LogicalRDD" in first_line or "InMemoryRelation" in first_line
    ):
        labels = labels.localCheckpoint(eager=True)
    la = labels.select(F.col("node").alias("a"), F.col(label_col).alias("la"))
    lb = labels.select(F.col("node").alias("b"), F.col(label_col).alias("lb"))
    labeled = edges.join(la, "a").join(lb, "b")
    m = edges.agg(F.count(F.lit(1)).alias("m_edges"))
    e_c = (
        labeled.filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias(label_col))
        .agg(F.count(F.lit(1)).alias("e_internal"))
    )
    deg = (
        edges.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    d_c = (
        labels.join(deg, "node", "left")
        .groupBy(label_col)
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum(F.coalesce(F.col("d"), F.lit(0))).alias("d_total"),
        )
    )
    return (
        d_c.join(e_c, label_col, "left")
        .crossJoin(F.broadcast(m))
        .select(
            label_col,
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.coalesce(F.col("e_internal"), F.lit(0))
            .cast("long")
            .alias("e_internal"),
            F.col("d_total").cast("long").alias("d_total"),
            F.col("m_edges").cast("long").alias("m_edges"),
            F.expr(
                "4 * m_edges * coalesce(e_internal, 0) - d_total * d_total"
            ).alias("q_num"),
        )
    )
