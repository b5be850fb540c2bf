"""pagerank_fixed: invariants of the integer fixed-point recurrence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bqetl_spark.caching import release_pinned
from bqetl_spark.functions.graph import SCALE, pagerank_fixed


@pytest.fixture
def tri(spark):
    # a -> b -> c -> a plus a dangling sink d fed by a
    return spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")], ["src", "dst"])


def _ranks(df):
    return {r["node"]: r["rank"] for r in df.collect()}


def test_symmetric_cycle_is_uniform(spark):
    """On a vertex-transitive graph (directed 3-cycle) every node must get
    the identical rank at every iteration — any asymmetry would mean the
    recurrence depends on partitioning or node order."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], ["src", "dst"])
    r = _ranks(pagerank_fixed(edges, iters=4))
    release_pinned()
    assert len(set(r.values())) == 1
    # no dangling nodes, so total mass decays only via floor drops (< 1
    # unit per node per iteration)
    assert sum(r.values()) > SCALE - 3 * 5


def test_sink_outranks_nothing_and_mass_decays(spark, tri):
    r = _ranks(pagerank_fixed(tri, iters=3))
    release_pinned()
    # d only receives; it has no out-edges, so its damped mass leaks and
    # the total is strictly below SCALE but still positive for everyone
    assert all(v > 0 for v in r.values())
    assert sum(r.values()) < SCALE
    # b and d each receive exactly half of a's contribution -> identical
    # ranks; a additionally receives c's full contribution -> a outranks
    # the sink
    assert r["b"] == r["d"]
    assert r["a"] > r["d"]


def test_deterministic_across_partitionings(spark, tri):
    a = _ranks(pagerank_fixed(tri.repartition(1), iters=3))
    release_pinned()
    b = _ranks(pagerank_fixed(tri.repartition(7, "dst"), iters=3))
    release_pinned()
    assert a == b


def test_validation(spark, tri):
    with pytest.raises(ValueError):
        pagerank_fixed(tri, iters=0)
    with pytest.raises(ValueError):
        pagerank_fixed(tri, damping_pct=100)


def test_python_replica_matches(spark, tri):
    """Bit-exact replay of the recurrence in plain Python — the same
    independence check the DuckDB oracle does, but engine-free."""
    edges = [(r["src"], r["dst"]) for r in tri.collect()]
    nodes = sorted({x for e in edges for x in e})
    n = len(nodes)
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    base = (15 * SCALE) // (100 * n)
    rank = {v: SCALE // n for v in nodes}
    for _ in range(3):
        nxt = {v: base for v in nodes}
        for s, t in edges:
            nxt[t] += int(85 * rank[s] // (100 * outdeg[s]))
        rank = nxt
    got = _ranks(pagerank_fixed(tri, iters=3))
    release_pinned()
    assert got == rank


def test_shuffle_join_fallback_equals_broadcast_path(spark, tri):
    """Above broadcast_nodes_max the loop switches to shuffle joins for
    ranks and degrees — integer arithmetic makes the two physical paths
    bit-identical, which this pins (the fallback is what runs at
    billion-node scale, so it must not be dead untested code)."""
    a = _ranks(pagerank_fixed(tri, iters=3))
    release_pinned()
    b = _ranks(pagerank_fixed(tri, iters=3, broadcast_nodes_max=0))
    release_pinned()
    assert a == b


def test_cooccurrence_long_ids_and_label_roundtrip(spark):
    """r6: node ids are disjoint longs (2c / 2s+1) so per-iteration
    broadcasts and shuffle keys are 8 bytes; node_label decodes back to
    the 'c:'/'s:' strings for display."""
    from bqetl_spark.functions.graph import cooccurrence_edges, node_label

    orders = spark.createDataFrame([(1, 10), (2, 11)],
                                   ["o_orderkey", "o_custkey"])
    li = spark.createDataFrame([(1, 5), (2, 5)],
                               ["l_orderkey", "l_suppkey"])
    e = cooccurrence_edges(orders, li)
    assert dict(e.dtypes) == {"src": "bigint", "dst": "bigint"}
    got = {(r["src"], r["dst"]) for r in e.collect()}
    assert got == {(20, 11), (22, 11), (11, 20), (11, 22)}
    labels = {r["l"] for r in
              e.select(node_label("src").alias("l")).collect()}
    assert labels == {"c:10", "c:11", "s:5"}


def test_node_label_exact_above_2_53(spark):
    """ADVICE r6: float division decoded ids >= 2^53 lossily; the shift
    formulation must be exact for the full LONG range of keys."""
    from bqetl_spark.functions.graph import node_label

    big = (1 << 60) + 12345
    df = spark.createDataFrame(
        [(big * 2,), (big * 2 + 1,), (0,), (1,)], "node long")
    got = sorted(r["l"] for r in
                 df.select(node_label("node").alias("l")).collect())
    assert got == sorted([f"c:{big}", f"s:{big}", "c:0", "s:0"])


# ------------------------------------------- triangle counting (r7) --

def _tri_counts(spark, edges, **kw):
    from bqetl_spark.functions.graph import triangle_counts

    df = spark.createDataFrame(edges, ["a", "b"])
    return {r["part"]: r["n_triangles"]
            for r in triangle_counts(df, **kw).collect()}


def test_triangles_k4_and_square(spark):
    """K4: 4 triangles, every node in exactly 3. A 4-cycle: none."""
    k4 = [(i, j) for i in range(1, 5) for j in range(i + 1, 5)]
    got = _tri_counts(spark, k4)
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
    square = [(1, 2), (2, 3), (3, 4), (1, 4)]
    assert _tri_counts(spark, square) == {}


def test_triangles_match_bruteforce(spark):
    """Degree-ordered enumeration must agree with the itertools brute
    force on a deterministic pseudo-random graph (incl. skewed hub)."""
    from itertools import combinations

    nodes = list(range(30))
    edges = sorted({(a, b) for a in nodes for b in nodes
                    if a < b and (a * 7 + b * 13) % 5 < 2})
    eset = set(edges)
    want = {}
    for x, y, z in combinations(nodes, 3):
        if {(x, y), (y, z), (x, z)} <= eset:
            for v in (x, y, z):
                want[v] = want.get(v, 0) + 1
    assert _tri_counts(spark, edges) == want


def test_triangles_supernode_guard(spark):
    """A node above max_degree disappears WITH its edges: triangles
    through it vanish; triangles avoiding it survive."""
    hub = 100
    edges = [(1, 2), (2, 3), (1, 3)]           # clean triangle
    edges += [(4, 5), (4, hub), (5, hub)]      # triangle through hub
    edges += [(i, hub) for i in range(6, 12)]  # pump hub degree to 8
    got = _tri_counts(spark, edges, max_degree=4)
    assert got == {1: 1, 2: 1, 3: 1}


def test_copurchase_edges_guard(spark):
    """Pairs are canonical a<b and distinct; an order above the guard
    contributes nothing."""
    from bqetl_spark.functions.graph import copurchase_edges

    rows = [(1, 10), (1, 20), (1, 20), (2, 30)]          # dup pk, single
    rows += [(3, i) for i in range(40, 46)]              # 6 parts > max 5
    li = spark.createDataFrame(rows, ["l_orderkey", "l_partkey"])
    e = copurchase_edges(li, max_parts_per_order=5)
    got = {(r["a"], r["b"]) for r in e.collect()}
    assert got == {(10, 20)}


def test_triangle_validation(spark):
    from bqetl_spark.functions.graph import copurchase_edges, triangle_counts

    df = spark.createDataFrame([(1, 2)], ["a", "b"])
    with pytest.raises(ValueError):
        triangle_counts(df, max_degree=1)
    li = spark.createDataFrame([(1, 2)], ["l_orderkey", "l_partkey"])
    with pytest.raises(ValueError):
        copurchase_edges(li, min_parts=1)


def test_k_core_peels_to_fixpoint(spark):
    """r8: triangle {1,2,3} with a pendant 4 on 1 — the 2-core drops
    the pendant (and only it), each survivor keeping within-core
    degree 2; peel-order independence means the same set for any chop."""
    from bqetl_spark.functions.graph import k_core

    edges = spark.createDataFrame([(1, 2), (1, 3), (2, 3), (1, 4)],
                                  ["a", "b"])
    got = sorted(map(tuple, k_core(edges, k=2).collect()))
    assert got == [(1, 2), (2, 2), (3, 2)]


def test_k_core_cascading_peel(spark):
    """A chain 1-2-3-4-5 has NO 2-core: peeling endpoints cascades
    inward over multiple rounds until nothing is left."""
    from bqetl_spark.functions.graph import k_core

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], ["a", "b"])
    assert k_core(edges, k=2, max_rounds=5).count() == 0


def test_k_core_converged_or_raise(spark):
    """max_rounds too small for the cascade -> explicit RuntimeError,
    never a silently-unconverged result (the oracle unroll contract)."""
    import pytest

    from bqetl_spark.functions.graph import k_core

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], ["a", "b"])
    with pytest.raises(RuntimeError, match="converge"):
        k_core(edges, k=2, max_rounds=1)
    with pytest.raises(ValueError):
        k_core(edges, k=0)


def test_label_propagation_two_cliques(spark):
    """r8 LPA: two triangles joined by one bridge edge — each triangle
    collapses to its own min-label community; the deterministic
    smallest-label tie-break decides the bridge endpoints' homes."""
    from bqetl_spark.functions.graph import label_propagation

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)],
        ["a", "b"])
    out = {r["node"]: (r["community"], r["community_size"])
           for r in label_propagation(edges, iters=5).collect()}
    # triangle {1,2,3} -> community 1; {4,5,6} pulls toward its own
    # min label but the bridge lets label 1 leak to 4: the fixed-point
    # of the SYNCHRONOUS argmax is deterministic either way — assert
    # the structure, not a hand-picked labeling
    assert len(out) == 6
    comms = {}
    for n, (c, _s) in out.items():
        comms.setdefault(c, set()).add(n)
    # sizes consistent with membership
    for n, (c, size) in out.items():
        assert size == len(comms[c])
    # the two triangle cores agree within themselves
    assert out[1][0] == out[2][0]
    assert out[5][0] == out[6][0]


def test_label_propagation_deterministic_and_validates(spark):
    import pytest

    from bqetl_spark.functions.graph import label_propagation

    edges = spark.createDataFrame([(1, 2), (2, 3)], ["a", "b"])
    a = sorted(map(tuple, label_propagation(edges, iters=3).collect()))
    b = sorted(map(tuple, label_propagation(edges, iters=3).collect()))
    assert a == b
    with pytest.raises(ValueError):
        label_propagation(edges, iters=0)


def test_copurchase_min_orders_threshold(spark):
    """min_orders=2 keeps only pairs co-purchased on >= 2 distinct
    orders."""
    from bqetl_spark.functions.graph import copurchase_edges

    rows = [(1, 10), (1, 20), (2, 10), (2, 20), (3, 10), (3, 30)]
    li = spark.createDataFrame(rows, ["l_orderkey", "l_partkey"])
    all_pairs = sorted(map(tuple, copurchase_edges(li).collect()))
    assert all_pairs == [(10, 20), (10, 30)]
    w2 = sorted(map(tuple, copurchase_edges(li, min_orders=2).collect()))
    assert w2 == [(10, 20)]


# ------------------------------------------- personalized PageRank (r9) --

def test_ppr_all_seeds_equals_uniform_pagerank(spark, tri):
    """Seeding EVERY node reduces personalized PageRank to the uniform
    teleport — bit-identical to pagerank_fixed (same base, same init)."""
    from bqetl_spark.functions.graph import pagerank_personalized

    nodes = (tri.select(F.col("src").alias("node"))
             .union(tri.select(F.col("dst").alias("node"))).distinct())
    pers = _ranks(pagerank_personalized(tri, nodes, iters=4))
    release_pinned()
    uni = _ranks(pagerank_fixed(tri, iters=4))
    release_pinned()
    assert pers == uni


def test_ppr_unreachable_stays_zero_and_seed_holds_mass(spark):
    """Two disjoint 2-cycles; seeding one leaves the other at EXACTLY 0
    rank, and every seed keeps at least the teleport base."""
    from bqetl_spark.functions.graph import pagerank_personalized

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("x", "y"), ("y", "x")], ["src", "dst"])
    seeds = spark.createDataFrame([("a",)], ["node"])
    # EVEN iteration count: a 2-cycle is bipartite, so the walk's mass
    # oscillates between the sides each step and only even steps leave
    # the bulk at the seed
    r = _ranks(pagerank_personalized(edges, seeds, iters=4))
    release_pinned()
    assert r["x"] == 0 and r["y"] == 0
    base = (15 * SCALE) // 100  # |S| = 1
    assert r["a"] >= base and r["b"] > 0
    # restart mass concentrates near the seed: a outranks b
    assert r["a"] > r["b"]


def test_ppr_python_replica_matches(spark, tri):
    """The Spark loop replays the integer recurrence exactly (the same
    bit-for-bit discipline pagerank_fixed pins)."""
    from bqetl_spark.functions.graph import pagerank_personalized

    seeds = spark.createDataFrame([("a",), ("zzz-not-in-graph",)], ["node"])
    got = _ranks(pagerank_personalized(tri, seeds, iters=3))
    release_pinned()
    nodes = {"a", "b", "c", "d"}
    out = {"a": 2, "b": 1, "c": 1}
    adj = {("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")}
    ns = 1  # the off-graph seed is dropped by the node intersection
    base = (15 * SCALE) // (100 * ns)
    rank = {v: (SCALE // ns if v == "a" else 0) for v in nodes}
    for _ in range(3):
        nxt = {}
        for v in nodes:
            inc = sum(85 * rank[u] // (100 * out[u])
                      for u in nodes if (u, v) in adj and u in out)
            nxt[v] = (base if v == "a" else 0) + inc
        rank = nxt
    assert got == rank


def test_ppr_validation(spark, tri):
    from bqetl_spark.functions.graph import pagerank_personalized

    seeds = spark.createDataFrame([("a",)], ["node"])
    with pytest.raises(ValueError, match="iters"):
        pagerank_personalized(tri, seeds, iters=0)
    with pytest.raises(ValueError, match="damping"):
        pagerank_personalized(tri, seeds, damping_pct=100)
    off = spark.createDataFrame([("nope",)], ["node"])
    with pytest.raises(ValueError, match="seed"):
        pagerank_personalized(tri, off)
    release_pinned()


# ---------------------------------------------- Newman modularity (r9) --

def test_modularity_two_triangles_exact(spark):
    """Two disjoint triangles, perfectly partitioned: textbook Q = 1/2.
    m = 6, each community has m_c = 3, D_c = 6 -> q_num = 4·6·3 − 36 = 36
    per community; Q = 72 / (4·36) = 0.5 exactly."""
    from bqetl_spark.functions.graph import modularity

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6)], ["a", "b"])
    coms = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 20), (5, 20), (6, 20)],
        ["node", "community"])
    rows = {r["community"]: r for r in modularity(edges, coms).collect()}
    release_pinned()
    assert rows[10]["q_num"] == 36 and rows[20]["q_num"] == 36
    assert rows[10]["m_edges"] == 6
    assert rows[10]["intra_edges"] == 3 and rows[10]["degree_sum"] == 6
    total_q = sum(r["q_num"] for r in rows.values())
    assert total_q / (4 * 6 * 6) == 0.5


def test_modularity_single_community_is_zero(spark):
    """Putting every node in one community gives Q = 0 EXACTLY
    (4m·m − (2m)² = 0) — the standard null check."""
    from bqetl_spark.functions.graph import modularity

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4), (1, 3)], ["a", "b"])
    coms = spark.createDataFrame([(i, 1) for i in range(1, 5)],
                                 ["node", "community"])
    rows = modularity(edges, coms).collect()
    release_pinned()
    assert len(rows) == 1 and rows[0]["q_num"] == 0


def test_modularity_singleton_community_negative(spark):
    """A community with no internal edges contributes q_num = −D_c² —
    intra_edges coalesces to 0 instead of dropping the row."""
    from bqetl_spark.functions.graph import modularity

    edges = spark.createDataFrame([(1, 2), (2, 3)], ["a", "b"])
    coms = spark.createDataFrame([(1, 1), (2, 1), (3, 3)],
                                 ["node", "community"])
    rows = {r["community"]: r for r in modularity(edges, coms).collect()}
    release_pinned()
    assert rows[3]["intra_edges"] == 0
    assert rows[3]["q_num"] == -(rows[3]["degree_sum"] ** 2)


def test_modularity_prefers_true_partition(spark):
    """On two cliques joined by one bridge, the true two-community
    partition scores strictly higher than one-big-community and than a
    random split — the property that makes Q a comparison score."""
    from bqetl_spark.functions.graph import modularity

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)],
        ["a", "b"])

    def q_of(pairs):
        coms = spark.createDataFrame(pairs, ["node", "community"])
        rows = modularity(edges, coms).collect()
        release_pinned()
        m = rows[0]["m_edges"]
        return sum(r["q_num"] for r in rows) / (4 * m * m)

    true_q = q_of([(1, 1), (2, 1), (3, 1), (4, 2), (5, 2), (6, 2)])
    one_q = q_of([(i, 1) for i in range(1, 7)])
    rand_q = q_of([(1, 1), (2, 2), (3, 1), (4, 2), (5, 1), (6, 2)])
    assert true_q > one_q and true_q > rand_q
    assert one_q == 0.0
