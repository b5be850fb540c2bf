"""Iterative graph algorithms as bounded DataFrame-join loops.

Reference parity note: the reference pipeline (MusicBrainzTransforms.java)
has no graph operators; this module is part of the beyond-reference
training-data surface (link-graph quality signals for web corpora —
PageRank-weighted sampling, spam down-weighting). Design rule shared with
``dedup.connected_components``: a FIXED, small number of Spark jobs per
iteration, no per-row driver logic, and integer fixed-point arithmetic so
the result is bit-identical across engines, partitionings, and runs —
which is what lets an iterative algorithm carry a full value-hash oracle.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bqetl_spark.caching import ckpt, fixpoint, pin

SCALE = 10**12  # fixed-point unit: 1.0 of rank mass == 10^12


# Above this node count the per-iteration rank table stops fitting in a
# broadcast (~40 B/row -> ~400 MB at 10M) and the loop falls back to a
# shuffle join on the source key.
BROADCAST_NODES_MAX = 10_000_000


def pagerank_fixed(edges: DataFrame, src: str = "src", dst: str = "dst",
                   iters: int = 5, damping_pct: int = 85,
                   broadcast_nodes_max: int = BROADCAST_NODES_MAX) -> DataFrame:
    """PageRank with integer fixed-point arithmetic, run for a fixed
    number of iterations.

    Join strategy by graph size: while the node count stays under
    BROADCAST_NODES_MAX, each iteration broadcasts the rank table into a
    map-side hash join — the edge list is NEVER shuffled or sorted, and
    the only shuffle is the partial-aggregated groupBy on the destination
    key (≤ distinct-dst rows per partition cross the wire). Beyond that,
    the loop falls back to the canonical shuffle join on the source key —
    the shape that scales to billions of edges. Either way each iteration
    is one pass over the edge list with no driver-side per-row work.
    Ranks live as BIGINT multiples of 1/SCALE:

        rank'(v) = base + Σ_{u→v} floor(damping·rank(u) / (100·outdeg(u)))
        base     = floor((100−damping)·SCALE / (100·n))

    All quantities stay < 2^53, so the one double division inside floor()
    is IEEE-exact and the whole recurrence is engine- and
    partition-order-independent — a DuckDB oracle can replay it with
    unrolled CTEs and hash-match bit-for-bit. Dangling nodes (no
    out-edges) simply leak their damped mass, the standard simplification;
    total mass therefore decays slightly instead of summing to SCALE,
    which is fine for ranking use.

    The only driver-side values are n (node count) and the loop counter —
    metadata scalars, same audit class as the IVF centroid collects.
    Returns (node, rank BIGINT).
    """
    nodes, n, small, e = _walk_graph(edges, src, dst, iters, damping_pct,
                                     broadcast_nodes_max)
    return _rank_walk(e, nodes.withColumn("__is_seed", F.lit(1)), n, small,
                      damping_pct, iters)


def _walk_graph(edges: DataFrame, src: str, dst: str, iters: int,
                damping_pct: int, broadcast_nodes_max: int):
    """Validated inputs both PageRank variants walk: the pinned node table,
    its size n, the broadcast decision, and the pinned edge list with
    source out-degrees (__src, node, __outdeg)."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if not 0 < damping_pct < 100:
        raise ValueError(f"damping_pct must be in (0,100), got {damping_pct}")
    # pin the raw edge list FIRST: nodes, outdeg and the per-iteration
    # join all read it, and an unpinned lineage (e.g. a join+distinct edge
    # builder) would otherwise be recomputed for each of them
    edges = pin(edges.select(F.col(src).alias(src), F.col(dst).alias(dst)))
    nodes = pin(edges.select(F.col(src).alias("node"))
                .union(edges.select(F.col(dst).alias("node")))
                .distinct())
    n = nodes.count()  # metadata scalar: one long to the driver
    small = n <= broadcast_nodes_max
    outdeg = edges.groupBy(src).agg(F.count("*").alias("__outdeg"))
    # degree table has <= n rows — broadcast it so the edge list is not
    # shuffled just to pick up a per-source count
    e = pin(edges.select(src, dst)
            .join(F.broadcast(outdeg) if small else outdeg, src)
            .select(F.col(src).alias("__src"), F.col(dst).alias("node"),
                    "__outdeg"))
    return nodes, n, small, e


def _rank_walk(e: DataFrame, teleport: DataFrame, n_seeds: int, small: bool,
               damping_pct: int, iters: int) -> DataFrame:
    """The rank recurrence of :func:`pagerank_personalized`, with
    ``teleport`` = (node, __is_seed) over every node and ``n_seeds`` = |S|;
    pagerank_fixed is the case S = all nodes."""
    base = ((100 - damping_pct) * SCALE) // (100 * n_seeds)
    # explicit long: at small n the literal would fit int32 and 85·rank
    # would constant-fold in 32-bit (ANSI overflow)
    ranks = ckpt(teleport.select(
        "node", (F.col("__is_seed").cast("long")
                 * F.lit(SCALE // n_seeds).cast("long")).alias("rank")))

    def iterate(ranks: DataFrame) -> DataFrame:
        # zero-rank sources contribute floor(0) = 0 — dropping them is
        # semantics-free and keeps the early-iteration rank broadcast at
        # frontier size instead of graph size
        rk = (ranks.filter(F.col("rank") > 0)
              .withColumnRenamed("node", "__src"))
        contrib = (e.join(F.broadcast(rk) if small else rk, "__src")
                   .groupBy("node")
                   .agg(F.sum(F.floor(F.lit(damping_pct) * F.col("rank")
                                      / (100 * F.col("__outdeg"))))
                        .alias("__in")))
        return (teleport.join(contrib, "node", "left")
                .select("node",
                        (F.col("__is_seed").cast("long") * F.lit(base)
                         + F.coalesce("__in", F.lit(0)))
                        .cast("long").alias("rank")))

    # EAGER localCheckpoint per round (r12): a lazy lineage re-embedded
    # the pinned edge build per round (~290 Exchange) and Catalyst/AQE
    # paid for the whole tree at the final action; one job per round over
    # the node-sized rank table instead. Interleaved A/B at sf0.1: median
    # 19.5 -> 6.2 s (PLANS.md r12 opt session 3). The caller reads the
    # last round once, so it stays lazy.
    return iterate(fixpoint(ranks, iterate, iters - 1))


def pagerank_personalized(edges: DataFrame, seeds: DataFrame,
                          src: str = "src", dst: str = "dst",
                          iters: int = 5, damping_pct: int = 85,
                          broadcast_nodes_max: int = BROADCAST_NODES_MAX
                          ) -> DataFrame:
    """Personalized (seeded) PageRank — ``pagerank_fixed``'s fixed-point
    machinery with the teleport vector concentrated on a seed set: the
    standard seed-expansion primitive for curating a domain corpus from
    a link graph (random-walk-with-restart proximity to the seeds).

        rank'(v) = base·[v ∈ S] + Σ_{u→v} floor(damping·rank(u)
                                                 / (100·outdeg(u)))
        base     = floor((100−damping)·SCALE / (100·|S|))
        rank0(v) = floor(SCALE / |S|)·[v ∈ S]

    ``seeds`` is a one-column DataFrame of node ids; it is intersected
    with the graph's nodes (a seed absent from the graph gets no mass —
    keeps |S| consistent with what the walk can actually reach) and, like
    the rank table, joined broadcast while the graph is small. Same
    integer fixed-point discipline as pagerank_fixed: every quantity
    < 2^53, so the unrolled-CTE DuckDB oracle replays it bit-for-bit.
    Only driver-side scalars: node count, seed count, loop counter.
    Returns (node, rank BIGINT); non-seed nodes unreachable from S stay
    at exactly 0.
    """
    nodes, n, small, e = _walk_graph(edges, src, dst, iters, damping_pct,
                                     broadcast_nodes_max)
    seed_nodes = pin(seeds.select(F.col(seeds.columns[0]).alias("node"))
                     .distinct().join(nodes, "node"))
    ns = seed_nodes.count()  # metadata scalar
    if ns == 0:
        raise ValueError("no seed intersects the graph's node set")
    seeded = pin(nodes.join(
        (F.broadcast(seed_nodes) if small else seed_nodes)
        .withColumn("__is_seed", F.lit(1)), "node", "left")
        .select("node", F.coalesce("__is_seed", F.lit(0)).alias("__is_seed")))
    return _rank_walk(e, seeded, ns, small, damping_pct, iters)


def cooccurrence_edges(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Undirected customer–supplier trade graph from the TPC-H fact
    tables: one edge per DISTINCT (customer, supplier) pair that appears
    on an order, materialized in both directions so rank mass flows both
    ways.

    Node ids are disjoint LONGS — 2·custkey for customers, 2·suppkey+1
    for suppliers. The r5 verdict measured pagerank as the heaviest gate
    (37 s cold at sf1) with variable-length 'c:<id>'/'s:<id>' STRING keys
    in every per-iteration broadcast and groupBy; 8-byte longs shrink the
    rank-table broadcast and every shuffle key with zero semantic change.
    ``node_label`` decodes back to the namespaced string for display."""
    pairs = (orders.select("o_orderkey", "o_custkey")
             .join(lineitem.select("l_orderkey", "l_suppkey"),
                   F.col("o_orderkey") == F.col("l_orderkey"))
             .select((F.col("o_custkey").cast("long") * 2).alias("a"),
                     (F.col("l_suppkey").cast("long") * 2 + 1).alias("b"))
             .distinct())
    return (pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
            .union(pairs.select(F.col("b").alias("src"),
                                F.col("a").alias("dst"))))


def cooccurrence_weighted_edges(orders: DataFrame,
                                lineitem: DataFrame) -> DataFrame:
    """The trade graph of :func:`cooccurrence_edges` with INTEGER edge
    costs for shortest-path ops: ``w = 1000000 div n_co_orders`` —
    pairs that trade on more distinct orders are 'closer', the standard
    inverse-affinity cost. Exact integer div (both engines agree at
    ≥ 0), so weighted distances replay in SQL. Same long node ids /
    both-directions materialization as cooccurrence_edges."""
    pairs = (orders.select("o_orderkey", "o_custkey")
             .join(lineitem.select("l_orderkey", "l_suppkey"),
                   F.col("o_orderkey") == F.col("l_orderkey"))
             .select((F.col("o_custkey").cast("long") * 2).alias("a"),
                     (F.col("l_suppkey").cast("long") * 2 + 1).alias("b"),
                     "o_orderkey")
             .groupBy("a", "b")
             .agg(F.countDistinct("o_orderkey").alias("__n"))
             .select("a", "b",
                     F.expr("cast(1000000 div __n as long)").alias("w")))
    return (pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"),
                         "w")
            .union(pairs.select(F.col("b").alias("src"),
                                F.col("a").alias("dst"), "w")))


def sssp_distances(edges: DataFrame, seeds: DataFrame,
                   src: str = "src", dst: str = "dst", weight: str = "w",
                   max_rounds: int = 6) -> DataFrame:
    """Multi-source WEIGHTED shortest paths (single-source when the seed
    set is one node) — the weighted completion of the graph family next
    to :func:`bfs_distances`' hop metric: round-synchronous Bellman-Ford
    relaxation,

        d₀ = {seed: 0}
        dₖ(v) = min(dₖ₋₁(v), min over edges (u,v): dₖ₋₁(u) + w(u,v))

    run for ``max_rounds`` rounds with early exit when a round changes
    nothing. dₖ is EXACTLY the cheapest path using ≤ k edges — a pure
    function of the edge list (min over integer sums: order-free,
    partition-independent, tie-free), so a fixed-round snapshot replays
    bit-for-bit in SQL as unrolled MATERIALIZED min-fold CTEs; on a
    graph with diameter ≤ max_rounds it is the true SSSP fixed point
    (the early exit certifies convergence without changing the result —
    extra rounds are idempotent at the fixed point).

    This is the frontier-free formulation of delta-stepping's heavy
    phase: each round is ONE equi-join of the current distance table
    against the edge list + one min-groupBy — 2 shuffles per round, the
    Pregel/GraphX shape, distance tables pinned per round (lineage cut,
    the k_core discipline). Negative weights are rejected: with them
    dₖ is still the ≤k-edge optimum but no fixed point exists.

    Returns (node, dist BIGINT) for nodes reachable within
    ``max_rounds`` edges of a seed; unreachable nodes are absent.
    """
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    e = pin(edges.select(F.col(src).alias("__src"),
                         F.col(dst).alias("__dst"),
                         F.col(weight).cast("long").alias("__w")))
    if e.filter(F.col("__w") < 0).limit(1).count():
        raise ValueError("sssp_distances requires non-negative weights")
    seed_nodes = seeds.select(F.col(seeds.columns[0]).alias("node")) \
        .distinct()
    nodes = (e.select(F.col("__src").alias("node"))
             .union(e.select(F.col("__dst").alias("node"))).distinct())
    # EAGER localCheckpoint per round (r12): dist is referenced 3× per
    # round (relaxation join, the union, the changed-probe join), so a
    # lazy pinned lineage grows ~3^rounds — the per-round `changed`
    # action was planning a ~3,600-Exchange tree by round 6. The
    # checkpoint cuts the plan to O(1) per round; the materializing job
    # it costs was already paid by the changed-count action.
    dist = (seed_nodes.join(nodes, "node")
            .select("node", F.lit(0).cast("long").alias("dist"))
            .transform(ckpt))

    def relax(dist: DataFrame) -> DataFrame:
        relaxed = (e.join(dist.withColumnRenamed("node", "__src"), "__src")
                   .select(F.col("__dst").alias("node"),
                           (F.col("dist") + F.col("__w")).alias("dist")))
        return (dist.unionByName(relaxed)
                .groupBy("node")
                .agg(F.min("dist").alias("dist")))

    def unchanged(new: DataFrame, old: DataFrame) -> bool:
        return (new.alias("n")
                .join(old.alias("o"), "node", "left")
                .filter(F.col("o.dist").isNull()
                        | (F.col("n.dist") < F.col("o.dist")))
                .limit(1).count()) == 0  # metadata scalar: early exit

    return fixpoint(dist, relax, max_rounds, unchanged)


def node_label(node) -> "F.Column":
    """Decode a long node id from ``cooccurrence_edges`` back to its
    namespaced string form ('c:<custkey>' / 's:<suppkey>') — applied only
    in final output projections, never on join/shuffle keys.

    Integer DIV, not ``/``: float division round-trips through double and
    would decode ids at or above 2^53 lossily (ADVICE r6)."""
    c = F.col(node) if isinstance(node, str) else node
    # shiftright(c, 1) == c DIV 2 for even c and (c-1) DIV 2 for odd c,
    # so one LONG shift decodes both namespaces exactly
    half = F.shiftright(c, 1).cast("long")
    return (F.when(c % 2 == 0, F.concat(F.lit("c:"), half))
            .otherwise(F.concat(F.lit("s:"), half)))


def copurchase_edges(lineitem: DataFrame, min_parts: int = 2,
                     max_parts_per_order: int = 20,
                     min_orders: int = 1) -> DataFrame:
    """Undirected part co-purchase edges: one edge per DISTINCT unordered
    partkey pair appearing on the same order, canonicalized a < b.

    Shape (measured, see PLANS.md triangle entry): ONE shuffle on the
    order key builds a sorted distinct-part array per order, then pair
    expansion is MAP-ONLY via nested ``transform``/``slice`` higher-order
    functions over the sorted array — already canonical a < b, no
    self-join, no second pass over lineitem. The join formulation this
    replaced cost 3x-10x more wall time from pure stage count. r12:
    per-order dedup happens INSIDE the aggregation (``collect_set``)
    instead of a separate ``.distinct()`` pass — one lineitem-scale
    shuffle instead of two, and the set dedupes map-side so the shuffle
    carries per-order distinct sets, not raw (ok, pk) rows.
    ``sort_array(collect_set(pk))`` ≡ the old distinct-then-sorted-list
    array element for element.

    Guard (deterministic, oracle-replayable): pair expansion is quadratic
    in the per-order distinct-part count, so orders outside
    [min_parts, max_parts_per_order] are dropped ENTIRELY — the same
    drop-don't-truncate posture as ``max_gram_freq`` / ``max_block_size``.
    TPC-H orders carry <= 7 lineitems so the guard never fires on the
    test corpus. Boundary: the guard bounds EXPANSION; the collect_set
    buffer is linear in the per-order DISTINCT part count (better than
    the raw order size)."""
    if not 2 <= min_parts <= max_parts_per_order:
        raise ValueError("need 2 <= min_parts <= max_parts_per_order")
    li = lineitem.select(F.col("l_orderkey").alias("ok"),
                         F.col("l_partkey").cast("long").alias("pk"))
    arrs = (li.groupBy("ok")
            .agg(F.sort_array(F.collect_set("pk")).alias("ps"))
            .filter((F.size("ps") >= min_parts) &
                    (F.size("ps") <= max_parts_per_order)))
    pair = F.explode(F.expr(
        """flatten(transform(ps, (x, i) ->
               transform(slice(ps, i + 2, size(ps)),
                         y -> struct(x AS a, y AS b))))"""))
    pairs = arrs.select(pair.alias("p")).select("p.a", "p.b")
    if min_orders > 1:
        # weight threshold (r8): keep pairs co-purchased on >= min_orders
        # DISTINCT orders — the standard sparsifier that turns the dense
        # everything-touches-everything basket graph into real structure
        # (per-order part lists are already distinct, so the pair count
        # IS the distinct-order count). Same groupBy key as the distinct.
        return (pairs.groupBy("a", "b")
                .agg(F.count("*").alias("__w"))
                .filter(F.col("__w") >= min_orders)
                .select("a", "b"))
    return pairs.distinct()


def triangle_counts(edges: DataFrame, max_degree: int = 4096,
                    broadcast_edges_max: int = 10_000_000) -> DataFrame:
    """Per-node triangle participation counts via DEGREE-ORDERED edge
    orientation — the Suri-Vassilvitskii / Cohen MapReduce formulation,
    the standard way to make triangle enumeration scale.

    Input: undirected edges as (a, b) with a < b, one row per edge.
    Nodes whose degree exceeds ``max_degree`` are removed with ALL their
    edges first (deterministic super-node guard, replayed by the
    oracle). Each surviving edge is oriented from its (degree, id)-
    smaller endpoint to its larger one; wedges are pairs of out-edges of
    one node, and a wedge (v, w) closes iff the oriented edge v->w
    exists. Orienting by degree bounds every out-neighborhood by
    O(sqrt(m)) regardless of how skewed the raw degrees are, so the
    quadratic wedge step is O(m^{3/2}) worst case and far less on real
    graphs — that is the entire 100 TB story. Each triangle is
    enumerated exactly once (its corners appear in (degree, id) order),
    then credited to all three corners via a map-only explode.

    Plan shape: the wedge join and the closing probe are both EQUI
    joins (on the shared source node, then on the (v, w) pair) with the
    lexicographic wedge ordering as a post-join filter — no BNLJ, no
    cartesian. Deliberately NO persist/pin: the duplicated subplans
    (degree legs, wedge self-join, closing edge set) are identical
    exchanges that AQE deduplicates via ReusedExchange — a pinned edge
    list was measured 2-40x SLOWER (200-partition InMemoryRelation that
    AQE cannot coalesce through; PLANS.md).

    Join strategy by graph size (the pagerank pattern): one metadata
    count of the edge list decides; at or under
    ``broadcast_edges_max`` edges (~24 B/row -> ~240 MB at the 10M
    default) the degree legs AND the closing-edge set broadcast, so the
    only shuffles left are the degree groupBy and the wedge self-join's
    source exchange — measured 2x faster than leaving it to AQE's 10 MB
    threshold at sf0.1 (PLANS.md). Beyond the bound everything falls
    back to shuffle equi-joins, the shape that scales to billions of
    edges.

    Returns (part, n_triangles) — nodes in >= 1 triangle only."""
    if max_degree < 2:
        raise ValueError(f"max_degree must be >= 2, got {max_degree}")
    # eager ckpt (r12 session 5): the upstream edge BUILD (copurchase:
    # lineitem-scale groupBy + pair explode) is re-embedded in every
    # consumer subtree — count, degree leg, the degree-attach join, both
    # wedge sides and the closing set — so the build ran up to 4x per
    # call. The r7 "don't persist" verdict A/B'd PIN (200-partition
    # InMemoryRelation AQE can't coalesce through) — a checkpoint leaf
    # has neither problem: one materializing job, every consumer reads
    # the compact edge list, and the count below becomes metadata-cheap.
    e0 = ckpt(edges.select(F.col("a").cast("long").alias("a"),
                           F.col("b").cast("long").alias("b")))
    small = e0.count() <= broadcast_edges_max
    deg = (e0.select(F.explode(F.array("a", "b")).alias("node"))
           .groupBy("node").agg(F.count("*").alias("deg"))
           .filter(F.col("deg") <= max_degree))
    # attach surviving degrees to both endpoints; a dropped super-node
    # removes every edge it touches (inner joins)
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("db"))
    if small:
        da, db = F.broadcast(da), F.broadcast(db)
    e = e0.join(da, "a").join(db, "b")
    fwd = F.struct("da", "a") < F.struct("db", "b")
    oriented = e.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(fwd, F.col("db")).otherwise(F.col("da")).alias("ddeg"))
    w1, w2 = oriented.alias("w1"), oriented.alias("w2")
    wedges = (w1.join(w2, (F.col("w1.src") == F.col("w2.src")) &
                      (F.struct(F.col("w1.ddeg"), F.col("w1.dst")) <
                       F.struct(F.col("w2.ddeg"), F.col("w2.dst"))))
              .select(F.col("w1.src").alias("u"),
                      F.col("w1.dst").alias("v"),
                      F.col("w2.dst").alias("w")))
    close = oriented.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    if small:
        close = F.broadcast(close)
    tri = wedges.join(close, ["v", "w"])
    corners = tri.select(F.explode(F.array("u", "v", "w")).alias("part"))
    return (corners.groupBy("part")
            .agg(F.count("*").cast("long").alias("n_triangles")))


def k_core(edges: DataFrame, k: int, a_col: str = "a", b_col: str = "b",
           max_rounds: int = 12,
           broadcast_nodes_max: int = BROADCAST_NODES_MAX) -> DataFrame:
    """K-core decomposition membership (r8): iteratively peel nodes of
    degree < k until every survivor has >= k neighbors among survivors —
    the standard density screen (spam-farm detection in link graphs,
    loosely-connected-product pruning in co-purchase graphs, community
    scaffolding). The k-core is a UNIQUE fixpoint independent of peel
    order, which is what makes an iterative algorithm value-oracle-able:
    an unrolled SQL replay of >= rounds-to-converge iterations lands on
    the identical set (extra unrolls are no-ops).

    Input: undirected edges as canonical (a < b) pairs, one row per
    edge (copurchase_edges' contract); symmetrized internally for the
    degree counts.

    Shape per round: ONE degree aggregation (map-side combined groupBy
    on the node key) + two anti equi-joins removing the peeled nodes'
    edges, with lineage cut per round (pin) — the connected_components
    peeling discipline. The only driver-side value is the per-round
    kill COUNT (a metadata scalar, same audit class as pagerank's n).
    Edges shrink monotonically, so every round costs at most the first.
    Raises after ``max_rounds`` non-converged rounds instead of looping
    silently (converged-or-raise, matching connected_components); the
    oracle unrolls exactly ``max_rounds`` iterations, so whenever this
    returns, both sides computed the same fixpoint.

    Returns (node BIGINT, core_degree BIGINT) for k-core members —
    core_degree is the node's degree WITHIN the core (>= k by
    construction); non-members produce no rows.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    # Cut lineage per round with an EAGER localCheckpoint — the
    # connected_components discipline. Chained persists are NOT enough
    # here: each round's plan references the previous round's THREE
    # times (directly plus through both kill-set joins), so the
    # logical tree grows 3^rounds and the first cut OOMed the driver
    # just RENDERING it; checkpoint truncates the plan to a leaf each
    # round. No up-front repartition: the measured per-round cost is
    # 2x LOWER without it (A/B in PLANS r8: 0.47-0.52 s against
    # 0.97-1.2 s per round). A localCheckpoint leaf reports
    # UnknownPartitioning(0), so the rounds' joins shuffle either way.
    e = (edges.select(F.col(a_col).alias("s"), F.col(b_col).alias("d"))
         .unionByName(edges.select(F.col(b_col).alias("s"),
                                   F.col(a_col).alias("d")))
         .transform(ckpt))
    # Two jobs per round: the checkpoint that builds the peeled edge
    # list (kill-set derivation + both anti-joins fuse into it — the
    # kill side is a shallow agg over the checkpointed leaf, and AQE
    # converts the anti-joins to broadcasts while the peeled set is
    # small, falling back to shuffle joins when it is not), and a
    # trivial count on the materialized result. Convergence = edge
    # count unchanged (a killed node always owns >= 1 edge), so no
    # separate kill-count action per round (first cut paid ~5
    # jobs/round and ran 30s at sf0.01; this shape is ~4s).
    sizes = [e.count()]
    # Broadcast gate for the per-round kill set (r13, guide §3.1): the
    # kill set is tiny in ROWS (25k at sf3) but Catalyst's ESTIMATE of
    # the agg+filter subplan scales with the edge list, so past ~sf1
    # the two anti-joins silently flipped from BroadcastHashJoin to
    # SortMergeJoin — the whole edge list shuffled AND sorted twice per
    # round (the measured x3-slope cliff: 16.5 s at sf1 vs 182 s at
    # sf3). kill ⊆ nodes and peeling only shrinks it, so one node count
    # up front validates an explicit broadcast hint for every round;
    # graphs beyond the cap keep the shuffle anti-join (the pagerank
    # gate discipline).
    n_nodes = e.select("s").distinct().count()
    small = n_nodes <= broadcast_nodes_max

    def peel(e: DataFrame) -> DataFrame:
        deg = e.groupBy("s").agg(F.count("*").alias("__c"))
        kill = deg.filter(F.col("__c") < k).select("s")
        kb = F.broadcast(kill) if small else kill
        return (e.join(kb, "s", "left_anti")
                .join(kb.withColumnRenamed("s", "d"), "d", "left_anti")
                .select("s", "d"))

    def peeled_nothing(new: DataFrame, _old: DataFrame) -> bool:
        sizes.append(new.count())  # metadata scalar per round
        return sizes[-1] == sizes[-2]

    e = fixpoint(e, peel, max_rounds, peeled_nothing)
    if sizes[-1] != sizes[-2]:
        raise RuntimeError(
            f"k_core did not converge within {max_rounds} rounds — "
            f"raise max_rounds (the oracle unroll must match)")
    return (e.groupBy("s")
            .agg(F.count("*").cast("long").alias("core_degree"))
            .select(F.col("s").alias("node"), "core_degree"))


def label_propagation(edges: DataFrame, iters: int = 5,
                      a_col: str = "a", b_col: str = "b") -> DataFrame:
    """Synchronous label-propagation community detection (r8), run for
    a FIXED number of iterations — the near-linear community baseline
    (Raghavan et al. 2007) the graph family was missing between
    connected_components (pure reachability) and the heavier modularity
    methods. Labels start as node ids; each iteration every node
    adopts the most frequent label among its neighbors, ties broken by
    the SMALLEST label — with synchronous (all-nodes-at-once) updates
    that argmax is a pure function of the previous labeling, so the
    result after exactly ``iters`` rounds is deterministic and
    bit-replayable by an unrolled SQL chain (the pagerank treatment;
    asynchronous LPA's update-order dependence is exactly what this
    variant trades away, and the textbook label oscillation on
    bipartite-ish structure is why the contract is a fixed-iteration
    SNAPSHOT, not convergence).

    Shape per iteration: one equi-join of the (checkpointed, static)
    edge list against the O(nodes) label table, one
    map-side-combinable (node, label) count, one per-node top-1 window
    — then the label table is lineage-cut (localCheckpoint, the
    connected_components discipline). Nothing quadratic anywhere;
    per-iteration cost is O(|E|) join rows.

    Returns (node BIGINT, community BIGINT, community_size BIGINT) —
    community = the surviving label (a node id), sizes computed over
    the final labeling. Isolated nodes never enter the edge list and
    produce no rows (consistent with the co-purchase builders).
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    from pyspark.sql import Window

    e = (edges.select(F.col(a_col).alias("s"), F.col(b_col).alias("d"))
         .unionByName(edges.select(F.col(b_col).alias("s"),
                                   F.col(a_col).alias("d")))
         .transform(ckpt))
    labels = (e.select(F.col("s").alias("node")).distinct()
              .withColumn("lbl", F.col("node"))
              .transform(ckpt))
    w = Window.partitionBy("s").orderBy(F.desc("__c"), F.asc("lbl"))

    def adopt(labels: DataFrame) -> DataFrame:
        neigh = (e.join(labels.withColumnRenamed("node", "d"), "d")
                 .groupBy("s", "lbl").agg(F.count("*").alias("__c")))
        return (neigh.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .select(F.col("s").alias("node"), "lbl"))

    labels = fixpoint(labels, adopt, iters)
    ws = Window.partitionBy("lbl")
    return (labels.select(F.col("node"),
                          F.col("lbl").alias("community"),
                          F.count("*").over(ws).cast("long")
                          .alias("community_size")))


def modularity(edges: DataFrame, communities: DataFrame,
               a_col: str = "a", b_col: str = "b",
               node_col: str = "node", com_col: str = "community"
               ) -> DataFrame:
    """Newman modularity of a node partition, in EXACT integer rational
    arithmetic (r9) — the comparison score that makes community
    partitions comparable across sparsifier / iteration settings:

        Q = Σ_c [ m_c/m − (D_c/2m)² ]        (Newman & Girvan 2004)
        Q·4m² = Σ_c [ 4m·m_c − D_c² ]        (exact in BIGINT)

    where m = undirected edge count, m_c = intra-community edges, D_c =
    sum of member degrees. Returns one row per community —
    (community, n_nodes, intra_edges, degree_sum, q_num, m_edges) with
    q_num = 4m·m_c − D_c², so Q = Σ q_num / (4·m_edges²) — numerators
    only cross the wire and the oracle replays every value exactly.

    ``edges``: one row per undirected pair (canonical a < b, the
    copurchase_edges contract). ``communities``: (node, community) —
    label_propagation output plugs in directly. Shape: one count agg for
    m (broadcast single-row), one doubled-edge degree agg, two
    broadcast-eligible equi-joins of the edge list against the O(nodes)
    label table. Nothing quadratic; BIGINT q_num is exact while
    2m < ~3·10⁹ (D_c² < 2⁶³) — beyond that, switch the two products to
    DECIMAL(38,0), same expressions.
    """
    e = pin(edges.select(F.col(a_col).alias("a"), F.col(b_col).alias("b")))
    lab = pin(communities.select(F.col(node_col).alias("node"),
                                 F.col(com_col).alias("c")).distinct())
    m_df = e.agg(F.count("*").cast("long").alias("m_edges"))
    deg = (e.select(F.col("a").alias("node"))
           .unionByName(e.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count("*").cast("long").alias("__deg")))
    dc = (deg.join(lab, "node")
          .groupBy("c")
          .agg(F.sum("__deg").cast("long").alias("degree_sum"),
               F.count("*").cast("long").alias("n_nodes")))
    la = lab.select(F.col("node").alias("a"), F.col("c").alias("__ca"))
    lb = lab.select(F.col("node").alias("b"), F.col("c").alias("__cb"))
    intra = (e.join(la, "a").join(lb, "b")
             .filter(F.col("__ca") == F.col("__cb"))
             .groupBy(F.col("__ca").alias("c"))
             .agg(F.count("*").cast("long").alias("intra_edges")))
    return (dc.join(intra, "c", "left")
            .crossJoin(F.broadcast(m_df))
            .select(F.col("c").alias("community"), "n_nodes",
                    F.coalesce("intra_edges", F.lit(0)).cast("long")
                    .alias("intra_edges"),
                    "degree_sum",
                    (F.lit(4) * F.col("m_edges")
                     * F.coalesce("intra_edges", F.lit(0))
                     - F.col("degree_sum") * F.col("degree_sum"))
                    .cast("long").alias("q_num"),
                    "m_edges"))


HITS_SCALE = 10**9  # fixed-point unit for hub/authority scores


def hits_fixed(edges: DataFrame, src: str = "src", dst: str = "dst",
               iters: int = 5,
               broadcast_nodes_max: int = BROADCAST_NODES_MAX) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) on a DIRECTED edge list,
    in integer fixed-point arithmetic so the iterative result is
    bit-identical across engines and partitionings (the ``pagerank_fixed``
    discipline — a DuckDB oracle replays it with unrolled CTEs).

    Beyond-reference op (the reference pipeline has no graph operators):
    on a bipartite interaction graph HITS separates the two roles that
    PageRank conflates — hub mass on the pointing side, authority mass
    on the pointed-at side — the standard signal pair for seed-quality
    scoring of link corpora.

    Recurrence, with per-phase max-normalization (the classic HITS
    normalization, made exact by scaling to HITS_SCALE before the floor):

        a_raw(v) = Σ_{u→v} h(u)          a(v) = floor(a_raw(v)·S / max a_raw)
        h_raw(u) = Σ_{u→v} a(v)          h(u) = floor(h_raw(u)·S / max h_raw)
        h₀(u)    = S                      S = HITS_SCALE = 10⁹

    Exactness/overflow audit: scores are ≤ S = 10⁹ after every
    normalization, so a phase's raw sum is ≤ degree·10⁹ (< 2⁶³ while
    max-degree < 9·10⁹). The ·S product is computed in DECIMAL —
    sum cast to DECIMAL(20,0), ×S → DECIMAL(31,0), then Spark's exact
    integral ``div`` (returns BIGINT); the oracle mirrors it with
    DuckDB's HUGEINT ``//``. No float enters the recurrence.

    The per-phase max normalizer attaches IN-PLAN via the audited
    one-row broadcast-crossJoin shape (r12; it was a driver collect per
    phase — 2·iters extra single-scalar jobs — until VERDICT r11 item 6).
    Each iteration is two passes over the edge list; the score tables
    broadcast while the graph is small and fall back to shuffle joins
    beyond ``broadcast_nodes_max``, the shape that scales to billions of
    edges. Returns (node, hub, auth) — hub NULL for pure sinks, auth
    NULL for pure sources.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    e = pin(edges.select(F.col(src).alias("__src"),
                         F.col(dst).alias("__dst")))
    # broadcast decision covers BOTH broadcast sides (ADVICE r10): the
    # hubs table is keyed by distinct sources but the auths table by
    # distinct destinations — on a source-skewed directed graph (few
    # sources, many dsts) gating on n_src alone could broadcast an
    # auths table far above the cap
    # both gate scalars in ONE job (r12 s5: was two distinct().count()
    # jobs over the same pinned edge list). Null-semantics note (r13,
    # advisor): countDistinct ignores NULL where distinct().count()
    # counted a null group — on a graph with null endpoints the scalar
    # shifts by 1, which could flip the broadcast decision exactly at
    # the cap. Plan-only (outputs unchanged either way), and the
    # engine's edge builders never emit null endpoints.
    gate = e.agg(F.countDistinct("__src").alias("ns"),
                 F.countDistinct("__dst").alias("nd")).first()
    small = max(gate["ns"], gate["nd"]) <= broadcast_nodes_max

    def _norm(raw: DataFrame, col: str) -> DataFrame:
        # in-plan one-row max attach (r12, VERDICT item 6): this was a
        # driver .collect() per phase — 2·iters single-scalar JOBS on top
        # of the real work (hits_scores was the slowest gate at 12.96 s,
        # ~22 jobs at iters=5). The audited important_parts shape (one-row
        # aggregate via broadcast crossJoin, as lpa_modularity attaches
        # its edge count) keeps the max on the executors; the div operand
        # types are unchanged (DECIMAL(31,0) div DECIMAL(20,0)) so the
        # result is bit-identical.
        mx = raw.agg(F.max(col).cast("decimal(20,0)").alias("__mx"))
        scaled = (F.expr(f"CAST({col} AS DECIMAL(20,0))")
                  * F.lit(HITS_SCALE).cast("decimal(10,0)"))
        return (raw.crossJoin(F.broadcast(mx))
                .select("node", scaled.cast("decimal(31,0)").alias("__s"),
                        "__mx")
                .select("node", F.expr("__s div __mx")
                        .cast("long").alias(col)))

    # Lineage discipline (the k_core/connected_components precedent):
    # the max attach reads each phase's raw sums TWICE (probe side + the
    # one-row broadcast side), so an uncut logical tree doubles per
    # phase — 2^(2·iters) growth that overflowed the canonicalizer's
    # stack at iters=5 — and an uncut raw aggregation runs twice. So each
    # PHASE is one fixpoint round that checkpoints its RAW sums, and the
    # next phase (or the output) normalizes them by reading that leaf
    # twice. Hub and authority rows share one state table (node, hub,
    # auth), one of the two NULL per row: a phase normalizes one role's
    # raw sums, carries them over, and adds the other role's raw sums.
    scores = ckpt(e.select(F.col("__src").alias("node")).distinct()
                  .select("node", F.lit(HITS_SCALE).cast("long").alias("hub"),
                          F.lit(None).cast("long").alias("auth")))
    roles = itertools.cycle([("__src", "__dst", "hub", "auth"),
                             ("__dst", "__src", "auth", "hub")])

    def phase(scores: DataFrame) -> DataFrame:
        key, out_key, fr, to = next(roles)
        given = _norm(scores.filter(F.col(fr).isNotNull()), fr)
        sk = given.withColumnRenamed("node", key)
        raw = (e.join(F.broadcast(sk) if small else sk, key)
               .groupBy(F.col(out_key).alias("node"))
               .agg(F.sum(F.col(fr).cast("decimal(20,0)"))
                    .cast("long").alias(to)))
        return raw.unionByName(given, allowMissingColumns=True)

    scores = fixpoint(scores, phase, 2 * iters)
    return (_norm(scores.filter(F.col("hub").isNotNull()), "hub")
            .join(scores.filter(F.col("auth").isNotNull())
                  .select("node", "auth"), "node", "full")
            .select("node", "hub", "auth"))


def bfs_distances(edges: DataFrame, seeds: DataFrame,
                  src: str = "src", dst: str = "dst",
                  max_hops: int = 4,
                  broadcast_nodes_max: int = BROADCAST_NODES_MAX
                  ) -> DataFrame:
    """Multi-source BFS hop distances — the missing shortest-path
    primitive next to the rank/community family: distance-to-seed-set
    is the standard graph locality feature (crawl-frontier depth,
    trust propagation radius, 'how far is this node from the curated
    core'). Personalized PageRank gives a smooth proximity; this gives
    the exact hop metric.

    Level-synchronous frontier expansion, ``max_hops`` fixed rounds:

        dist₀ = {seed: 0}
        frontier_k = (frontier_{k-1} ⋈ edges) \\ dist    (new nodes only)
        dist      += {node: k}

    A node's distance is the ROUND it first appears — order-free and
    partition-independent (min over equal values), so the result
    replays exactly; the oracle walks the same levels with WITH
    RECURSIVE + a final per-node MIN. All-integer, no tie-breaks.

    Scale shape: each round is ONE equi-join of the frontier against
    the edge list + an anti-join against the visited set — the
    Pregel/GraphX BFS shape; the frontier/visited tables broadcast
    while the graph is small and fall back to shuffle joins beyond
    ``broadcast_nodes_max``. The visited table is checkpointed per
    round (lineage cut, the k_core discipline). Returns (node, dist) for
    nodes within ``max_hops`` of a seed; unreached nodes are absent (the
    caller left-joins and coalesces a sentinel if needed).
    """
    if max_hops < 1:
        raise ValueError(f"max_hops must be >= 1, got {max_hops}")
    e = pin(edges.select(F.col(src).alias("__src"),
                         F.col(dst).alias("__dst")))
    seed_nodes = seeds.select(F.col(seeds.columns[0]).alias("node")) \
        .distinct()
    nodes = (e.select(F.col("__src").alias("node"))
             .union(e.select(F.col("__dst").alias("node"))).distinct())
    # seeds outside the graph get distance 0 rows only if they exist as
    # nodes — intersect keeps the metric about the graph, like ppr.
    # EAGER localCheckpoints (r12, via fixpoint): visited is referenced
    # three times per round (frontier, anti-join, union), so lazy pinned
    # lineage compounded to a ~2,700-Exchange plan by round 4 that the
    # per-round count action re-planned each time; the checkpoints cut
    # it to O(1) per round. The frontier is the rows of the last round's
    # distance, so the visited table is the whole loop state.
    visited = (seed_nodes.join(nodes, "node")
               .select("node", F.lit(0).cast("long").alias("dist"))
               .transform(ckpt))
    n_seen = [visited.count()]

    def expand(visited: DataFrame) -> DataFrame:
        k = len(n_seen)  # this round's hop count
        small = n_seen[-1] <= broadcast_nodes_max
        fr = (visited.filter(F.col("dist") == k - 1)
              .select(F.col("node").alias("__src")))
        nxt = (e.join(F.broadcast(fr) if small else fr, "__src")
               .select(F.col("__dst").alias("node")).distinct()
               .join(visited, "node", "left_anti")
               .select("node", F.lit(k).cast("long").alias("dist")))
        return visited.unionByName(nxt)

    def no_new_node(new: DataFrame, _old: DataFrame) -> bool:
        n_seen.append(new.count())  # metadata scalar: drives early exit
        return n_seen[-1] == n_seen[-2]

    return fixpoint(visited, expand, max_hops, no_new_node)
