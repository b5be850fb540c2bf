"""Graph gates: PageRank, personalized PageRank, BFS/SSSP, HITS,
k-core, label propagation and triangle counting.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bqetl_spark.functions import graph as gr

from bqetl_spark.gates import gate
from bqetl_spark.gates.common import _t


# PageRank: the integer fixed-point recurrence unrolled as 5 CTE
# iterations — rank'(v) = base + Σ floor(85·rank(u)/(100·outdeg(u))).
# Every quantity < 2^53, so the recurrence is bit-identical to Spark's
# join-agg loop regardless of partitioning or summation order.
_pr_iter = """
        SELECT n.node,
               {base} + COALESCE(s.c, 0) AS rank
        FROM pr_nodes n LEFT JOIN (
            SELECT e.dst AS node,
                   SUM(CAST(floor(85 * r.rank / (100.0 * e.outdeg)) AS BIGINT)) AS c
            FROM pr_e e JOIN {prev} r ON e.src = r.node
            GROUP BY e.dst) s ON n.node = s.node"""
_pr_base = ("(SELECT (15 * 1000000000000) // (100 * count(*)) "
            "FROM pr_nodes)")


@gate(oracle="""
        WITH pairs AS (
            SELECT DISTINCT 'c:' || o_custkey AS a, 's:' || l_suppkey AS b
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        pr_edges AS (
            SELECT a AS src, b AS dst FROM pairs
            UNION ALL
            SELECT b AS src, a AS dst FROM pairs),
        pr_nodes AS (
            SELECT src AS node FROM pr_edges
            UNION
            SELECT dst AS node FROM pr_edges),
        pr_deg AS (SELECT src, count(*) AS outdeg FROM pr_edges GROUP BY src),
        pr_e AS (
            SELECT e.src, e.dst, g.outdeg
            FROM pr_edges e JOIN pr_deg g ON e.src = g.src),
        r0 AS (
            SELECT node,
                   (SELECT 1000000000000 // count(*) FROM pr_nodes) AS rank
            FROM pr_nodes),"""
        + ",".join(
            f"\n        r{i} AS ({_pr_iter.format(prev=f'r{i-1}', base=_pr_base)})"
            for i in range(1, 6))
        + """
        SELECT node, CAST(rank AS BIGINT) AS rank
        FROM r5
        ORDER BY rank DESC, node ASC
        LIMIT 100""")
def q_pagerank(spark, sf_dir):
    """Fixed-point PageRank (functions.graph.pagerank_fixed, 5 iterations,
    damping 0.85) over the undirected customer–supplier trade graph; top
    100 nodes by rank, ties by node id. Integer rank units make the
    iterative result bit-identical to the oracle's unrolled-CTE replay.
    The loop runs on LONG node ids (r6: 2·custkey / 2·suppkey+1 — compact
    broadcast + shuffle keys); only this final projection decodes to the
    'c:'/'s:' strings, so the oracle and its tie-break are unchanged."""
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    edges = gr.cooccurrence_edges(orders, lineitem)
    ranks = gr.pagerank_fixed(edges, iters=5, damping_pct=85)
    labeled = ranks.select(gr.node_label("node").alias("node"), "rank")
    return labeled.orderBy(F.desc("rank"), F.asc("node")).limit(100)


# personalized PageRank: same unrolled fixed-point replay with the
# teleport term gated by seed membership (is_seed * base)
_ppr_iter = """
        SELECT n.node,
               n.is_seed * {base} + COALESCE(s.c, 0) AS rank
        FROM ppr_s n LEFT JOIN (
            SELECT e.dst AS node,
                   SUM(CAST(floor(85 * r.rank / (100.0 * e.outdeg)) AS BIGINT)) AS c
            FROM pr_e e JOIN {prev} r ON e.src = r.node
            GROUP BY e.dst) s ON n.node = s.node"""
_ppr_base = ("(SELECT (15 * 1000000000000) // (100 * sum(is_seed)) "
             "FROM ppr_s)")


@gate(oracle="""
        WITH pairs AS (
            SELECT DISTINCT 'c:' || o_custkey AS a, 's:' || l_suppkey AS b
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        pr_edges AS (
            SELECT a AS src, b AS dst FROM pairs
            UNION ALL
            SELECT b AS src, a AS dst FROM pairs),
        pr_nodes AS (
            SELECT src AS node FROM pr_edges
            UNION
            SELECT dst AS node FROM pr_edges),
        pr_deg AS (SELECT src, count(*) AS outdeg FROM pr_edges GROUP BY src),
        pr_e AS (
            SELECT e.src, e.dst, g.outdeg
            FROM pr_edges e JOIN pr_deg g ON e.src = g.src),
        ppr_seeds AS (
            SELECT DISTINCT 'c:' || c_custkey AS node
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            WHERE n_name = 'NATION_7'),
        ppr_s AS (
            SELECT n.node,
                   CASE WHEN s.node IS NULL THEN 0 ELSE 1 END AS is_seed
            FROM pr_nodes n LEFT JOIN ppr_seeds s ON n.node = s.node),
        r0 AS (
            SELECT node,
                   is_seed * (1000000000000 //
                              (SELECT sum(is_seed) FROM ppr_s)) AS rank
            FROM ppr_s),"""
        + ",".join(
            f"\n        r{i} AS ({_ppr_iter.format(prev=f'r{i-1}', base=_ppr_base)})"
            for i in range(1, 6))
        + """
        SELECT node, CAST(rank AS BIGINT) AS rank
        FROM r5
        WHERE rank > 0
        ORDER BY rank DESC, node ASC
        LIMIT 100""")
def q_ppr_seeded(spark, sf_dir):
    """Personalized PageRank (functions.graph.pagerank_personalized, r9):
    random-walk-with-restart proximity to a seed set — teleport mass
    restricted to NATION_7's customers in the customer–supplier trade
    graph, the standard seed-expansion shape for growing a domain corpus
    from trusted documents. Same integer fixed-point recurrence as
    q_pagerank (bit-replayable via unrolled CTEs); the zero-rank frontier
    filter keeps early-iteration rank broadcasts at frontier size. Top
    100 nodes by rank, ties by label."""
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    edges = gr.cooccurrence_edges(orders, lineitem)
    seeds = (customer.join(nation,
                           F.col("c_nationkey") == F.col("n_nationkey"))
             .filter(F.col("n_name") == "NATION_7")
             .select((F.col("c_custkey").cast("long") * 2).alias("node")))
    ranks = gr.pagerank_personalized(edges, seeds, iters=5, damping_pct=85)
    labeled = (ranks.filter(F.col("rank") > 0)
               .select(gr.node_label("node").alias("node"), "rank"))
    return labeled.orderBy(F.desc("rank"), F.asc("node")).limit(100)


# BFS: WITH RECURSIVE over (node, d) with UNION dedup (bounds rows
# at nodes x hops — UNION ALL would enumerate paths), final MIN
@gate(oracle="""
        WITH RECURSIVE pairs AS (
            SELECT DISTINCT 'c:' || o_custkey AS a, 's:' || l_suppkey AS b
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        bfs_edges AS (
            SELECT a AS src, b AS dst FROM pairs
            UNION ALL
            SELECT b AS src, a AS dst FROM pairs),
        bfs_nodes AS (
            SELECT src AS node FROM bfs_edges
            UNION
            SELECT dst AS node FROM bfs_edges),
        bfs_seeds AS (
            SELECT DISTINCT 'c:' || c_custkey AS node
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            WHERE n_name = 'NATION_7'),
        walk AS (
            SELECT s.node, 0 AS d
            FROM bfs_seeds s JOIN bfs_nodes n ON s.node = n.node
            UNION
            SELECT e.dst AS node, w.d + 1 AS d
            FROM walk w JOIN bfs_edges e ON w.node = e.src
            WHERE w.d < 4)
        SELECT node, CAST(MIN(d) AS BIGINT) AS dist
        FROM walk GROUP BY node""")
def q_bfs_distances(spark, sf_dir):
    """Multi-source BFS hop distances (functions.graph.bfs_distances,
    r10): exact distance from NATION_7's customer seed set over the
    undirected trade graph, ≤ 4 hops — the hop-metric complement to
    ppr_seeded's smooth proximity. Level-synchronous frontier
    expansion (one frontier equi-join + one anti-join per round, the
    Pregel shape); all-integer, no tie-breaks, so the oracle's
    WITH RECURSIVE walk + per-node MIN replays it exactly."""
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    edges = gr.cooccurrence_edges(orders, lineitem)
    seeds = (customer.join(nation,
                           F.col("c_nationkey") == F.col("n_nationkey"))
             .filter(F.col("n_name") == "NATION_7")
             .select((F.col("c_custkey").cast("long") * 2).alias("node")))
    dist = gr.bfs_distances(edges, seeds, max_hops=4)
    return dist.select(gr.node_label("node").alias("node"), "dist")


# SSSP (r11): six unrolled Bellman-Ford min-fold rounds over the
# inverse-affinity-weighted trade graph. MATERIALIZED per round —
# each sd{k} is read twice by the next round's union (plain CTEs
# inline 2^k-fold, the kcore lesson). All-integer, tie-free.
_sssp_round = """
        sd{k} AS MATERIALIZED (
            SELECT node, MIN(d) AS d FROM (
                SELECT node, d FROM sd{p}
                UNION ALL
                SELECT e.dst AS node, r.d + e.w AS d
                FROM sd{p} r JOIN we e ON r.node = e.src) u
            GROUP BY node)"""


@gate(oracle="""
        WITH wp AS MATERIALIZED (
            SELECT 'c:' || o_custkey AS a, 's:' || l_suppkey AS b,
                   CAST(1000000 // count(DISTINCT o_orderkey) AS BIGINT) AS w
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            GROUP BY 1, 2),
        we AS MATERIALIZED (
            SELECT a AS src, b AS dst, w FROM wp
            UNION ALL
            SELECT b AS src, a AS dst, w FROM wp),
        sn AS (SELECT src AS node FROM we UNION SELECT dst AS node FROM we),
        sseeds AS (
            SELECT DISTINCT 'c:' || c_custkey AS node
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            WHERE n_name = 'NATION_7'),
        sd0 AS MATERIALIZED (
            SELECT s.node, CAST(0 AS BIGINT) AS d
            FROM sseeds s JOIN sn n ON s.node = n.node),"""
        + ",".join(_sssp_round.format(k=k, p=k - 1) for k in range(1, 7))
        + """
        SELECT node, CAST(d AS BIGINT) AS dist FROM sd6""")
def q_sssp_hops(spark, sf_dir):
    """Weighted shortest paths (functions.graph.sssp_distances, r11):
    Bellman-Ford relaxation from NATION_7's customer seed set over the
    trade graph with inverse-affinity integer costs
    (w = 1000000 div n_co_orders — frequent trading partners are
    'closer'). The weighted completion of the graph family
    (pagerank/PPR/HITS/BFS/k-core/LPA/triangles): bfs_distances gives
    the hop metric, this gives the cost metric. Six min-fold rounds
    with early exit (idempotent at the fixed point, so the oracle's
    six unrolled MATERIALIZED CTE rounds replay it exactly —
    all-integer sums and mins, tie-free)."""
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    edges = gr.cooccurrence_weighted_edges(orders, lineitem)
    seeds = (customer.join(nation,
                           F.col("c_nationkey") == F.col("n_nationkey"))
             .filter(F.col("n_name") == "NATION_7")
             .select((F.col("c_custkey").cast("long") * 2).alias("node")))
    dist = gr.sssp_distances(edges, seeds, max_rounds=6)
    return dist.select(gr.node_label("node").alias("node"), "dist")


# HITS (r10): unrolled hub/authority phases on the DIRECTED c->s
# graph; DuckDB's SUM(BIGINT) is HUGEINT so raw*10^9 // max replays
# Spark's DECIMAL-product + integral-div exactly
# MATERIALIZED at every level: each CTE is read twice (FROM + the
# scalar MAX subquery), so plain CTEs would inline 2^k-fold across
# the 5 unrolled iterations (the kcore/wordpiece lesson)
_hits_iter = """
        a{i}r AS MATERIALIZED (
            SELECT e.dst AS node, SUM(r.h) AS raw
            FROM he e JOIN h{p} r ON e.src = r.node GROUP BY e.dst),
        a{i} AS MATERIALIZED (
            SELECT node,
                   raw * 1000000000 // (SELECT MAX(raw) FROM a{i}r) AS a
            FROM a{i}r),
        h{i}r AS MATERIALIZED (
            SELECT e.src AS node, SUM(r.a) AS raw
            FROM he e JOIN a{i} r ON e.dst = r.node GROUP BY e.src),
        h{i} AS MATERIALIZED (
            SELECT node,
                   raw * 1000000000 // (SELECT MAX(raw) FROM h{i}r) AS h
            FROM h{i}r)"""


@gate(oracle="""
        WITH he AS MATERIALIZED (
            SELECT DISTINCT 'c:' || o_custkey AS src,
                            's:' || l_suppkey AS dst
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        h0 AS MATERIALIZED (
            SELECT DISTINCT src AS node, CAST(1000000000 AS HUGEINT) AS h
            FROM he),"""
        + ",".join(_hits_iter.format(i=i, p=i - 1) for i in range(1, 6))
        + """
        SELECT 'hub' AS kind, node, CAST(h AS BIGINT) AS score FROM h5
        UNION ALL
        SELECT 'auth' AS kind, node, CAST(a AS BIGINT) AS score FROM a5""")
def q_hits_scores(spark, sf_dir):
    """HITS hubs & authorities (functions.graph.hits_fixed, r10) on the
    DIRECTED customer→supplier trade graph — the role-separating
    counterpart to q_pagerank: hub mass accumulates on customers (who
    they buy from), authority mass on suppliers (who buys from them).
    Integer fixed-point with per-phase max-normalization (DECIMAL
    product + exact integral div), so the 5-iteration result is
    bit-identical to the oracle's unrolled-CTE HUGEINT replay. Same
    compact LONG node encoding as q_pagerank (2·custkey / 2·suppkey+1),
    decoded to labels only in the final projection. Output: one row per
    scored node, (kind, node, score) — all scalar columns."""
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    edges = (orders.select("o_orderkey", "o_custkey")
             .join(lineitem.select("l_orderkey", "l_suppkey"),
                   F.col("o_orderkey") == F.col("l_orderkey"))
             .select((F.col("o_custkey").cast("long") * 2).alias("src"),
                     (F.col("l_suppkey").cast("long") * 2 + 1).alias("dst"))
             .distinct())
    sc = gr.hits_fixed(edges, iters=5)
    hubs = (sc.filter(F.col("hub").isNotNull())
            .select(F.lit("hub").alias("kind"),
                    gr.node_label("node").alias("node"),
                    F.col("hub").alias("score")))
    auths = (sc.filter(F.col("auth").isNotNull())
             .select(F.lit("auth").alias("kind"),
                     gr.node_label("node").alias("node"),
                     F.col("auth").alias("score")))
    return hubs.unionByName(auths)


# triangle_count: DuckDB enumerates triangles directly with the
# canonical 3-way self-join on a<b edges (a<b<c orders each triangle
# once, matching the Spark side's degree-orientation count exactly);
# same mega-basket guard [2, 20] and same degree-4096 super-node drop
@gate(oracle="""
        WITH li AS (SELECT DISTINCT l_orderkey AS ok,
                           CAST(l_partkey AS BIGINT) AS pk FROM lineitem),
        oks AS (SELECT ok FROM li GROUP BY ok
                HAVING count(*) BETWEEN 2 AND 20),
        e0 AS (SELECT DISTINCT x.pk AS a, y.pk AS b
               FROM li x JOIN oks USING (ok) JOIN li y USING (ok)
               WHERE x.pk < y.pk),
        deg AS (SELECT node FROM (
                  SELECT a AS node FROM e0
                  UNION ALL SELECT b FROM e0)
                GROUP BY node HAVING count(*) <= 4096),
        e AS (SELECT a, b FROM e0
              JOIN deg d1 ON e0.a = d1.node
              JOIN deg d2 ON e0.b = d2.node),
        t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
              FROM e e1
              JOIN e e2 ON e1.b = e2.a
              JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        n AS (SELECT x AS part FROM t
              UNION ALL SELECT y FROM t
              UNION ALL SELECT z FROM t)
        SELECT part, CAST(count(*) AS BIGINT) AS n_triangles
        FROM n GROUP BY part""")
def q_triangle_count(spark, sf_dir):
    """Per-part triangle counts over the co-purchase graph
    (functions.graph.triangle_counts, r7) — the Suri-Vassilvitskii /
    Cohen degree-ordered MapReduce formulation: edges are distinct
    same-order partkey pairs (map-only higher-order-function expansion
    of one sorted array per order, mega-basket guard at 20), super-nodes
    above degree 4096 dropped deterministically, every edge oriented
    from its (degree, id)-smaller endpoint, wedges = equi-self-join on
    the source, closed by an equi-probe on the (v, w) pair. O(m^{3/2})
    worst case via the orientation bound; each triangle counted once
    then credited to all three corners. No pins, no hints — AQE
    deduplicates the repeated subplans (measured 4x faster, PLANS.md)."""
    from bqetl_spark.functions.graph import copurchase_edges, triangle_counts

    li = _t(spark, sf_dir, "lineitem")
    return triangle_counts(copurchase_edges(li, min_parts=2,
                                            max_parts_per_order=20),
                           max_degree=4096)


def _kcore_cte(k: int, rounds: int) -> str:
    """Unrolled k-core peeling as DuckDB CTEs (same unroll treatment as
    _bpe_cte / the pagerank oracle): the k-core is a peel-order-
    independent fixpoint, so unrolling >= rounds-to-converge iterations
    is exact — extra iterations are no-ops. The Spark side raises if it
    needs more than ``rounds`` rounds, so whenever the gate returns,
    both engines computed the same fixpoint."""
    ctes = ["""li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok,
                      CAST(l_partkey AS BIGINT) AS pk FROM lineitem),
        oks AS (SELECT ok FROM li GROUP BY ok
                HAVING count(*) BETWEEN 2 AND 20),
        p AS (SELECT DISTINCT x.pk AS a, y.pk AS b
              FROM li x JOIN oks USING (ok) JOIN li y USING (ok)
              WHERE x.pk < y.pk),
        e0 AS MATERIALIZED (SELECT a AS s, b AS d FROM p
               UNION ALL SELECT b, a FROM p)"""]
    # every peel CTE MATERIALIZED: DuckDB inlines plain CTEs, and each
    # round references the previous one three times, so inlining grows
    # 3^rounds and re-opens the parquet leaf thousands of times
    # (EMFILE) — same rationale as dedup_clusters' MATERIALIZED hints
    for i in range(rounds):
        ctes.append(f"""x{i} AS MATERIALIZED (SELECT s FROM e{i} GROUP BY s
                 HAVING count(*) < {k}),
        e{i + 1} AS MATERIALIZED (SELECT s, d FROM e{i}
                 WHERE s NOT IN (SELECT s FROM x{i})
                   AND d NOT IN (SELECT s FROM x{i}))""")
    return ("WITH " + ",\n        ".join(ctes) +
            f"""\n        SELECT s AS node,
               CAST(count(*) AS BIGINT) AS core_degree
        FROM e{rounds} GROUP BY s""")


# kcore_parts (r8): unrolled peeling, see _kcore_cte
@gate(oracle=_kcore_cte(k=80, rounds=12))
def q_kcore_parts(spark, sf_dir):
    """K-core membership over the part co-purchase graph
    (functions.graph.k_core, r8): peel parts with fewer than 80
    co-purchase neighbors until the 80-core stabilizes (5 rounds on
    this corpus; converged-or-raise at 12) — the density screen that
    prunes loosely-connected products before community analysis.
    Returns each core member with its WITHIN-core degree. The k-core
    fixpoint is peel-order independent, so the oracle's 12 unrolled
    peel CTEs land on the identical set (extra unrolls are no-ops) and
    the driver hash-checks the full iterative result, like pagerank."""
    from bqetl_spark.functions.graph import copurchase_edges, k_core

    li = _t(spark, sf_dir, "lineitem")
    return k_core(copurchase_edges(li, min_parts=2,
                                   max_parts_per_order=20),
                  k=80, max_rounds=12)


def _lpa_cte(iters: int, min_orders: int, emit: str = "communities") -> str:
    """Unrolled synchronous label propagation as DuckDB CTEs (pagerank
    treatment): labels start as node ids; each iteration re-labels every
    node with its neighbors' most frequent label (count DESC, label ASC
    tie-break) — a pure function of the previous labeling, so the
    fixed-iteration snapshot replays bit-for-bit. MATERIALIZED like the
    k-core chain (plain CTEs inline multiplicatively).

    emit='communities' -> the lpa_communities final SELECT;
    emit='modularity'  -> appends the exact-integer Newman modularity
    of the final labeling over the same sparsified pair list `p`
    (q_num = 4·m·m_c − D_c², mirroring functions.graph.modularity)."""
    ctes = [f"""li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok,
                      CAST(l_partkey AS BIGINT) AS pk FROM lineitem),
        oks AS (SELECT ok FROM li GROUP BY ok
                HAVING count(*) BETWEEN 2 AND 20),
        pr AS (SELECT x.pk AS a, y.pk AS b
               FROM li x JOIN oks USING (ok) JOIN li y USING (ok)
               WHERE x.pk < y.pk),
        p AS MATERIALIZED (
          SELECT a, b FROM (SELECT a, b, count(*) AS w
                            FROM pr GROUP BY 1, 2)
          WHERE w >= {min_orders}),
        e0 AS MATERIALIZED (SELECT a AS s, b AS d FROM p
               UNION ALL SELECT b, a FROM p),
        l0 AS MATERIALIZED (SELECT DISTINCT s AS node, s AS lbl FROM e0)"""]
    for i in range(1, iters + 1):
        ctes.append(f"""n{i} AS MATERIALIZED (
          SELECT e.s, l.lbl, count(*) AS c
          FROM e0 e JOIN l{i - 1} l ON e.d = l.node GROUP BY 1, 2),
        l{i} AS MATERIALIZED (
          SELECT s AS node, lbl FROM (
            SELECT s, lbl, row_number() OVER (
              PARTITION BY s ORDER BY c DESC, lbl ASC) AS rn
            FROM n{i}) WHERE rn = 1)""")
    if emit == "modularity":
        return ("WITH " + ",\n        ".join(ctes) + f""",
        mm AS (SELECT CAST(count(*) AS BIGINT) AS m_edges FROM p),
        deg AS (SELECT s AS node, CAST(count(*) AS BIGINT) AS deg
                FROM e0 GROUP BY s),
        dc AS (SELECT l.lbl AS c,
                      CAST(sum(deg) AS BIGINT) AS degree_sum,
                      CAST(count(*) AS BIGINT) AS n_nodes
               FROM deg JOIN l{iters} l ON deg.node = l.node GROUP BY 1),
        intra AS (SELECT la.lbl AS c, CAST(count(*) AS BIGINT) AS intra
                  FROM p JOIN l{iters} la ON p.a = la.node
                         JOIN l{iters} lb ON p.b = lb.node
                  WHERE la.lbl = lb.lbl GROUP BY 1)
        SELECT dc.c AS community, dc.n_nodes,
               CAST(coalesce(intra.intra, 0) AS BIGINT) AS intra_edges,
               dc.degree_sum,
               CAST(4 * mm.m_edges * coalesce(intra.intra, 0)
                    - dc.degree_sum * dc.degree_sum AS BIGINT) AS q_num,
               mm.m_edges
        FROM dc LEFT JOIN intra ON dc.c = intra.c CROSS JOIN mm""")
    return ("WITH " + ",\n        ".join(ctes) +
            f"""\n        SELECT node, lbl AS community,
               CAST(count(*) OVER (PARTITION BY lbl) AS BIGINT)
                 AS community_size
        FROM l{iters}""")


# lpa_communities (r8): unrolled synchronous LPA, see _lpa_cte
@gate(oracle=_lpa_cte(iters=5, min_orders=2))
def q_lpa_communities(spark, sf_dir):
    """Synchronous label-propagation communities (functions.graph.
    label_propagation, r8 — Raghavan et al.) over the WEIGHTED
    co-purchase graph (pairs co-purchased on >= 2 distinct orders —
    the sparsifier that turns the dense basket graph into real
    structure: 297 communities at sf0.01 vs ONE on the raw graph).
    5 fixed synchronous iterations, most-frequent-neighbor label with
    smallest-label tie-break — a pure function of the previous
    labeling, so the snapshot is deterministic and the oracle's
    unrolled MATERIALIZED CTE chain hash-matches it bit-for-bit (the
    pagerank treatment). Per iteration: one edge-label equi-join + one
    combinable count + one per-node top-1 window; labels
    lineage-cut per round."""
    from bqetl_spark.functions.graph import (copurchase_edges,
                                             label_propagation)

    li = _t(spark, sf_dir, "lineitem")
    return label_propagation(
        copurchase_edges(li, min_parts=2, max_parts_per_order=20,
                         min_orders=2), iters=5)


# lpa_modularity (r9): same unrolled LPA chain + exact-integer
# Newman modularity of the final labeling
@gate(oracle=_lpa_cte(iters=5, min_orders=2,
                                   emit="modularity"))
def q_lpa_modularity(spark, sf_dir):
    """Exact-integer Newman modularity (functions.graph.modularity, r9)
    of the lpa_communities partition: per community
    q_num = 4·m·m_c − D_c², so Q = Σ q_num / 4m² — numerators only, no
    floats, making partitions COMPARABLE across sparsifier settings
    (the r8-verdict ask). Reuses the exact lpa_communities labeling
    (same copurchase sparsifier, same 5 synchronous iterations); the
    oracle re-runs the unrolled LPA chain and the modularity arithmetic
    in one statement. Two broadcast-eligible label joins + three aggs
    past LPA itself."""
    from bqetl_spark.functions.graph import (copurchase_edges,
                                             label_propagation, modularity)

    li = _t(spark, sf_dir, "lineitem")
    edges = copurchase_edges(li, min_parts=2, max_parts_per_order=20,
                             min_orders=2)
    coms = label_propagation(edges, iters=5)
    return modularity(edges, coms)
