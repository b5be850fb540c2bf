"""Similarity and retrieval gates: exact and approximate embedding
top-k (SQ, IVF, LSH, PQ, IVF-PQ, Matryoshka), hard negatives,
semantic dedup, TF-IDF/BM25/hybrid retrieval and spatial joins.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bqetl_spark.caching import ckpt
from bqetl_spark.functions import retrieval as rt
from bqetl_spark.functions import similarity as sim
from bqetl_spark.functions import text as tx

from bqetl_spark.gates import gate
from bqetl_spark.gates.common import _TOK, _t


# q_spatial_grid_join replay: the same md5-derived integer coordinates
# (15 hex digits integerized exactly like Spark's conv(substr(md5,1,15),
# 16,10) — 60 bits, always positive), cell = coord // radius, the
# occupancy cap as a HAVING, the 3x3 neighborhood as a range(-1,2)^2
# cross join against the probe side, id_a < id_b, and the exact BIGINT
# Euclidean verify. Each pair appears once (build side keeps its single
# home cell).
_SPATIAL_GRID_ORACLE = """
    WITH pts AS (
      SELECT c_custkey AS id,
             CAST(('0x' || substr(md5('px:' || CAST(c_custkey AS VARCHAR)),
                                  1, 15)) AS BIGINT) % 10000 AS px,
             CAST(('0x' || substr(md5('py:' || CAST(c_custkey AS VARCHAR)),
                                  1, 15)) AS BIGINT) % 10000 AS py
      FROM customer
    ), cells AS (
      SELECT id, px, py, px // 64 AS cx, py // 64 AS cy FROM pts
    ), ok AS (
      SELECT cx, cy FROM cells GROUP BY cx, cy HAVING count(*) <= 64
    ), co AS (
      SELECT cells.* FROM cells JOIN ok USING (cx, cy)
    ), cand AS (
      SELECT a.id AS id_a, b.id AS id_b,
             (a.px - b.px) * (a.px - b.px)
           + (a.py - b.py) * (a.py - b.py) AS dist_sq
      FROM co a
      CROSS JOIN range(-1, 2) dx(dx)
      CROSS JOIN range(-1, 2) dy(dy)
      JOIN co b ON b.cx = a.cx + dx.dx AND b.cy = a.cy + dy.dy
               AND a.id < b.id
    )
    SELECT id_a, id_b, dist_sq FROM cand WHERE dist_sq <= 4096"""


@gate(oracle=_SPATIAL_GRID_ORACLE)
def q_spatial_grid_join(spark, sf_dir):
    """Grid-bucketed spatial neighbor join (operators/spatial.py, r12):
    every customer gets a deterministic 2-D point (md5-derived
    coordinates both engines compute identically — the sample_hash
    idiom, 15 hex digits via conv/'0x' cast, mod 10000), and the op
    returns all pairs within Euclidean distance 64 as (id_a, id_b,
    dist_sq) — EXACT integer arithmetic end to end. Cell size = radius,
    3×3 neighborhood equi-join (recall 1.0 by the cell-pigeonhole),
    dense-cell guard max_cell_size=64 replayed as a HAVING; each pair
    generated exactly once (probe explodes to 9 keys, build keeps its
    home cell — no distinct pass). The spatial instance of the
    bucket-then-verify discipline that runs the dedup/ANN families.

    Scale: one occupancy groupBy + one (cx, cy) equi-join — never
    all-pairs; at planetary point counts the cell key space grows with
    the data and the join stays hash-partitioned metadata."""
    from bqetl_spark.operators.spatial import grid_neighbor_join

    cust = _t(spark, sf_dir, "customer")

    def coord(tag):
        return (F.conv(F.substring(F.md5(F.concat(
            F.lit(tag), F.col("c_custkey").cast("string"))), 1, 15),
            16, 10).cast("long") % 10000)

    pts = cust.select(F.col("c_custkey").alias("id"),
                      coord("px:").alias("px"),
                      coord("py:").alias("py"))
    return grid_neighbor_join(pts, radius=64, max_cell_size=64)


# q_spatial_knn replay: the q_spatial_grid_join coordinate/cell/cap/
# candidate machinery at radius 256, then the symmetric union of the
# once-generated pairs and the per-point ranked cutoff (ties by
# neighbor id).
_SPATIAL_KNN_ORACLE = """
    WITH pts AS (
      SELECT c_custkey AS id,
             CAST(('0x' || substr(md5('px:' || CAST(c_custkey AS VARCHAR)),
                                  1, 15)) AS BIGINT) % 10000 AS px,
             CAST(('0x' || substr(md5('py:' || CAST(c_custkey AS VARCHAR)),
                                  1, 15)) AS BIGINT) % 10000 AS py
      FROM customer
    ), cells AS (
      SELECT id, px, py, px // 256 AS cx, py // 256 AS cy FROM pts
    ), ok AS (
      SELECT cx, cy FROM cells GROUP BY cx, cy HAVING count(*) <= 64
    ), co AS (
      SELECT cells.* FROM cells JOIN ok USING (cx, cy)
    ), cand AS (
      SELECT a.id AS id_a, b.id AS id_b,
             (a.px - b.px) * (a.px - b.px)
           + (a.py - b.py) * (a.py - b.py) AS dist_sq
      FROM co a
      CROSS JOIN range(-1, 2) dx(dx)
      CROSS JOIN range(-1, 2) dy(dy)
      JOIN co b ON b.cx = a.cx + dx.dx AND b.cy = a.cy + dy.dy
               AND a.id < b.id
    ), pairs AS (
      SELECT id_a, id_b, dist_sq FROM cand WHERE dist_sq <= 65536
    ), sym AS (
      SELECT id_a AS id, id_b AS neighbor_id, dist_sq FROM pairs
      UNION ALL
      SELECT id_b, id_a, dist_sq FROM pairs
    ), rk AS (
      SELECT id, neighbor_id, dist_sq,
             row_number() OVER (PARTITION BY id
                                ORDER BY dist_sq, neighbor_id) AS rank
      FROM sym
    )
    SELECT id, neighbor_id, dist_sq, rank FROM rk WHERE rank <= 3"""


@gate(oracle=_SPATIAL_KNN_ORACLE)
def q_spatial_knn(spark, sf_dir):
    """Radius-bounded k-nearest-neighbors (operators/spatial.py
    grid_knn_join, r12): the q_spatial_grid_join point set at radius
    256 (sized so points typically have ≥ 3 in-radius neighbors at the
    gate densities), each point's 3 nearest by exact BIGINT Euclidean
    distance, rank ties broken by neighbor id — the geo-retrieval query
    shape ("closest k stores/drivers/cells") built as grid pairs →
    symmetrize → per-point window top-k. The oracle replays
    coordinates, cells, the occupancy cap, the 3×3 candidate join, the
    symmetric union and the ranked cutoff.

    Scale: inherits the grid join's equi-key posture plus ONE rank
    shuffle on point id; the radius bound is what keeps kNN
    candidate-generation finite at any density (unbounded kNN = ring
    expansion over the same cells, the documented scale path)."""
    from bqetl_spark.operators.spatial import grid_knn_join

    cust = _t(spark, sf_dir, "customer")

    def coord(tag):
        return (F.conv(F.substring(F.md5(F.concat(
            F.lit(tag), F.col("c_custkey").cast("string"))), 1, 15),
            16, 10).cast("long") % 10000)

    pts = cust.select(F.col("c_custkey").alias("id"),
                      coord("px:").alias("px"),
                      coord("py:").alias("py"))
    return grid_knn_join(pts, radius=256, k=3, max_cell_size=64)


# sequential double dot product of two float lists (bit-identical to Spark's
# zip_with+aggregate left fold)
_DOT = ("list_reduce(list_transform(list_zip({a}, {b}), "
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (acc, v) -> acc + v)")
_NORM = ("sqrt(list_reduce(list_transform({a}, "
         "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, v) -> acc + v))")


def _cosine_sql(a: str, b: str) -> str:
    return (f"({_DOT.format(a=a, b=b)} / "
            f"({_NORM.format(a=a)} * {_NORM.format(a=b)}))")


# IVF ANN: stride-picked seeds + argmax-cosine assignment are fully
# SQL-expressible (same sequential-fold cosine as every embedding
# oracle); seed selection verified identical across engines (both scan
# id order). Assignment argmax ties break by ascending list_id, the
# UDF's stable-sort convention.
@gate(oracle=f"""
        WITH params AS (
          SELECT greatest(count(*) // 16, 1) AS stride FROM embeddings),
        seeds AS (
          SELECT vec_id AS list_id, embedding AS centroid
          FROM embeddings, params WHERE vec_id % stride = 0
          ORDER BY vec_id LIMIT 16
        ), c_assign AS (
          SELECT vec_id AS c_id, embedding AS cv, list_id FROM (
            SELECT e.vec_id, e.embedding, s.list_id,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY {_cosine_sql('e.embedding', 's.centroid')} DESC, s.list_id ASC) AS rn
            FROM embeddings e, seeds s) WHERE rn = 1
        ), q_assign AS (
          SELECT vec_id AS q_id, embedding AS qv, list_id FROM (
            SELECT e.vec_id, e.embedding, s.list_id,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY {_cosine_sql('e.embedding', 's.centroid')} DESC, s.list_id ASC) AS rn
            FROM embeddings e, seeds s WHERE e.vec_id < 10) WHERE rn <= 4
        ), cand AS (
          SELECT DISTINCT q.q_id AS query_id, c.c_id AS neighbor_id,
                 q.qv, c.cv
          FROM q_assign q JOIN c_assign c USING (list_id)
          WHERE c.c_id != q.q_id
        ), ranked AS (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY {_cosine_sql('qv', 'cv')} DESC,
                                             neighbor_id ASC) AS rank,
                 {_cosine_sql('qv', 'cv')} AS s
          FROM cand)
        SELECT query_id, neighbor_id, rank, round(s, 4) AS score
        FROM ranked WHERE rank <= 5""")
def q_embed_ivf_topk(spark, sf_dir):
    """IVF-bucketed ANN. Approximate vs brute force (probes 4/16 lists),
    but deterministic: stride-picked seeds + argmax-cosine assignment are
    reproduced in the SQL oracle, so the driver hash-checks the full
    result (cf. embed_lsh_topk)."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.ivf_topk(emb, emb.filter(F.col("vec_id") < 10), k=5,
                        n_lists=16, n_probe=4)


def _kmeans_cte(n_lists: int, iters: int, dim: int = 64,
                where: str = "") -> str:
    """CTE chain ending in ``seeds{iters}`` = Lloyd-refined centroids,
    mirroring similarity.kmeans_refine step for step: stride-picked seeds,
    argmax-cosine assignment (ties by ascending list_id — the UDF's
    stable-sort convention), FIXED-POINT EXACT means (floor(x*2^24)
    integer sums — the Spark side computes the identical sums, so the
    centroids are bit-equal across engines), and empty-list carry-over
    (kmeans_refine's dict merge == LEFT JOIN + coalesce). ``where``
    restricts the training corpus (r11: the incremental gate trains on
    the seen half only)."""
    w = f" WHERE {where}" if where else ""
    w_and = f"{where} AND " if where else ""
    parts = [
        f"params AS (SELECT greatest(count(*) // {n_lists}, 1) AS stride "
        f"FROM embeddings{w})",
        (f"vecs AS (SELECT vec_id, list_transform(embedding, "
         f"x -> CAST(x AS DOUBLE)) AS v FROM embeddings{w})"),
        (f"seeds0 AS (SELECT vec_id AS list_id, list_transform(embedding, "
         f"x -> CAST(x AS DOUBLE)) AS centroid FROM embeddings, params "
         f"WHERE {w_and}vec_id % stride = 0 ORDER BY vec_id LIMIT {n_lists})"),
    ]
    for it in range(1, iters + 1):
        prev = f"seeds{it - 1}"
        parts += [
            (f"assign{it} AS (SELECT vec_id, v, list_id FROM ("
             f"SELECT e.vec_id, e.v, s.list_id, "
             f"row_number() OVER (PARTITION BY e.vec_id "
             f"ORDER BY {_cosine_sql('e.v', 's.centroid')} DESC, "
             f"s.list_id ASC) AS rn "
             f"FROM vecs e, {prev} s) WHERE rn = 1)"),
            (f"means{it} AS (SELECT list_id, i, "
             f"CAST(SUM(CAST(FLOOR(v[i] * 16777216.0) AS BIGINT)) AS DOUBLE) "
             f"/ (CAST(COUNT(*) AS DOUBLE) * 16777216.0) AS m "
             f"FROM assign{it}, (SELECT unnest(range(1, {dim} + 1)) AS i) d "
             f"GROUP BY list_id, i)"),
            (f"cent{it} AS (SELECT list_id, list(m ORDER BY i) AS centroid "
             f"FROM means{it} GROUP BY list_id)"),
            (f"seeds{it} AS (SELECT s.list_id, "
             f"coalesce(c.centroid, s.centroid) AS centroid "
             f"FROM {prev} s LEFT JOIN cent{it} c USING (list_id))"),
        ]
    return ",\n".join(parts)


# IVF + k-means: the 2 Lloyd iterations are unrolled as CTE stages
# (_kmeans_cte); centroid means are fixed-point exact in BOTH engines
# (see kmeans_refine), so the refined centroids are bit-equal and the
# full approximate result is hash-checkable — same differential-gate
# treatment as embed_lsh_topk/embed_ivf_topk.
@gate(oracle=f"""
        WITH {_kmeans_cte(16, 2)},
        c_assign AS (
          SELECT vec_id AS c_id, emb AS cv, list_id FROM (
            SELECT e.vec_id, e.embedding AS emb, s.list_id,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY {_cosine_sql('e.embedding', 's.centroid')} DESC,
                              s.list_id ASC) AS rn
            FROM embeddings e, seeds2 s) WHERE rn = 1
        ), q_assign AS (
          SELECT vec_id AS q_id, emb AS qv, list_id FROM (
            SELECT e.vec_id, e.embedding AS emb, s.list_id,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY {_cosine_sql('e.embedding', 's.centroid')} DESC,
                              s.list_id ASC) AS rn
            FROM embeddings e, seeds2 s WHERE e.vec_id < 10) WHERE rn <= 4
        ), cand AS (
          SELECT DISTINCT q.q_id AS query_id, c.c_id AS neighbor_id, q.qv, c.cv
          FROM q_assign q JOIN c_assign c USING (list_id)
          WHERE c.c_id != q.q_id
        ), ranked AS (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY {_cosine_sql('qv', 'cv')} DESC,
                                             neighbor_id ASC) AS rank,
                 {_cosine_sql('qv', 'cv')} AS s
          FROM cand)
        SELECT query_id, neighbor_id, rank, round(s, 4) AS score
        FROM ranked WHERE rank <= 5""")
def q_embed_ivf_kmeans_topk(spark, sf_dir):
    """IVF ANN with 2 Lloyd refinement iterations over the seed centroids.
    Approximate by design (recall floor vs the exact baseline lives in
    tests/test_ann_recall.py) yet fully oracled: kmeans_refine's means are
    fixed-point exact (floor(x*2^24) integer sums), so the DuckDB oracle
    rebuilds bit-equal centroids and the driver hash-checks the complete
    approximate result."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.ivf_topk(emb, emb.filter(F.col("vec_id") < 10), k=5,
                        n_lists=16, n_probe=4, refine_iters=2)


# learned IVF (r8): identical replay with (n_lists, n_probe, stride)
# DERIVED from count(*) — power-of-two CASE ladder over
# floor(sqrt(N)), probe = lists/4 — certifying the sizing rule, not
# just the fixed-parameter plan
@gate(oracle=f"""
        WITH counts AS (
          SELECT count(*) AS n,
                 CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS s
          FROM embeddings),
        params AS (
          SELECT n, nl, greatest(nl // 4, 1) AS np,
                 greatest(n // nl, 1) AS stride
          FROM (SELECT n,
                  CASE WHEN s >= 1024 THEN 1024 WHEN s >= 512 THEN 512
                       WHEN s >= 256 THEN 256 WHEN s >= 128 THEN 128
                       WHEN s >= 64 THEN 64 WHEN s >= 32 THEN 32
                       WHEN s >= 16 THEN 16 WHEN s >= 8 THEN 8
                       WHEN s >= 4 THEN 4 WHEN s >= 2 THEN 2
                       ELSE 1 END AS nl
                FROM counts)),
        seeds AS (
          SELECT list_id, centroid FROM (
            SELECT e.vec_id AS list_id, e.embedding AS centroid,
                   row_number() OVER (ORDER BY e.vec_id) AS rn, p.nl
            FROM embeddings e, params p WHERE e.vec_id % p.stride = 0)
          WHERE rn <= nl
        ), c_assign AS (
          SELECT vec_id AS c_id, embedding AS cv, list_id FROM (
            SELECT e.vec_id, e.embedding, s.list_id,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY {_cosine_sql('e.embedding', 's.centroid')} DESC, s.list_id ASC) AS rn
            FROM embeddings e, seeds s) WHERE rn = 1
        ), q_assign AS (
          SELECT vec_id AS q_id, embedding AS qv, list_id FROM (
            SELECT e.vec_id, e.embedding, s.list_id,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY {_cosine_sql('e.embedding', 's.centroid')} DESC, s.list_id ASC) AS rn
            FROM embeddings e, seeds s WHERE e.vec_id < 10)
          WHERE rn <= (SELECT np FROM params)
        ), cand AS (
          SELECT DISTINCT q.q_id AS query_id, c.c_id AS neighbor_id,
                 q.qv, c.cv
          FROM q_assign q JOIN c_assign c USING (list_id)
          WHERE c.c_id != q.q_id
        ), ranked AS (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY {_cosine_sql('qv', 'cv')} DESC,
                                             neighbor_id ASC) AS rank,
                 {_cosine_sql('qv', 'cv')} AS s
          FROM cand)
        SELECT query_id, neighbor_id, rank, round(s, 4) AS score
        FROM ranked WHERE rank <= 5""")
def q_embed_ivf_learned(spark, sf_dir):
    """IVF ANN with LEARNED list/probe counts (similarity.
    ivf_topk_learned, r8 — closes the README roadmap item): n_lists =
    largest power of two <= floor(sqrt(N)) (the standard IVF sizing
    balance between list length and centroid comparisons), n_probe =
    n_lists/4 (the probed FRACTION governs recall per the recorded
    ANN_CURVES sweep). The rule is integer arithmetic (isqrt + a
    power-of-two ladder) so the oracle replays it as a CASE ladder
    over floor(sqrt(count(*))) — no float log2 at a boundary; the
    plan downstream is the audited ivf_topk shape (bucketed
    equi-joins, n_lists-bounded seed collect, no BNLJ)."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.ivf_topk_learned(emb, emb.filter(F.col("vec_id") < 10),
                                k=5)


@gate(oracle=f"""
            WITH scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     {_cosine_sql('q.embedding', 'c.embedding')} AS s
              FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
              WHERE q.vec_id < 10),
            ranked AS (
              SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY s DESC, neighbor_id ASC) AS rank,
                     s
              FROM scored)
            SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
                   round(s, 6) AS score
            FROM ranked WHERE rank <= 5""")
def q_embed_topk(spark, sf_dir):
    """Brute-force cosine top-5 for the first 10 query vectors."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5,
                           score_decimals=6)


@gate(oracle="""
            WITH base AS (
              SELECT vec_id,
                     list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) / s) AS BIGINT)) AS codes
              FROM (SELECT vec_id, embedding,
                           list_max(list_transform(embedding,
                             x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS s
                    FROM embeddings)),
            n AS (
              SELECT vec_id, codes,
                     list_reduce(list_transform(codes, x -> x * x),
                                 (a, v) -> a + v) AS nn
              FROM base),
            scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     CAST(list_reduce(list_transform(list_zip(q.codes, c.codes),
                                        p -> p[1] * p[2]), (a, v) -> a + v) AS DOUBLE)
                     / (sqrt(CAST(q.nn AS DOUBLE)) * sqrt(CAST(c.nn AS DOUBLE))) AS s
              FROM n q JOIN n c ON q.vec_id != c.vec_id
              WHERE q.vec_id < 10),
            ranked AS (
              SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY s DESC, neighbor_id ASC) AS rank,
                     s
              FROM scored)
            SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
                   round(s, 6) AS score
            FROM ranked WHERE rank <= 5""")
def q_embed_sq_topk(spark, sf_dir):
    """Int8 scalar-quantized cosine top-5 — the memory-bandwidth scale path
    (4-8x fewer bytes per vector scanned). Exactly oracle-able: the integer
    dot/self-dot sums are exact, and the per-vector scales cancel out of
    cosine, so both engines perform identical arithmetic."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.sq_cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5,
                              score_decimals=6)


# hard negatives: same brute-force cosine shape, label-inequality
# (null-safe IS DISTINCT FROM ≙ Spark ~eqNullSafe) in the join
@gate(oracle=f"""
            WITH scored AS (
              SELECT q.vec_id AS query_id, q.label AS query_label,
                     c.vec_id AS neighbor_id, c.label AS neighbor_label,
                     {_cosine_sql('q.embedding', 'c.embedding')} AS s
              FROM embeddings q JOIN embeddings c
                ON q.label IS DISTINCT FROM c.label
              WHERE q.vec_id < 10),
            ranked AS (
              SELECT query_id, query_label, neighbor_id, neighbor_label,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY s DESC, neighbor_id ASC)
                       AS rank,
                     s
              FROM scored)
            SELECT query_id, query_label, neighbor_id, neighbor_label,
                   CAST(rank AS INT) AS rank, round(s, 6) AS score
            FROM ranked WHERE rank <= 5""")
def q_hard_negatives(spark, sf_dir):
    """Hard-negative mining (functions.similarity.hard_negatives): per
    query vector the top-5 most-similar vectors with a DIFFERENT label —
    the contrastive-training batch builder. Brute-force exact (the
    ANN variants share the label-filter composition); the oracle mirrors
    the null-safe label inequality with IS DISTINCT FROM."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.hard_negatives(emb, emb.filter(F.col("vec_id") < 10), k=5,
                              score_decimals=6)


# hard-negatives through IVF: same deterministic seed/assignment
# replay as embed_ivf_topk, with the null-safe label inequality
# (IS DISTINCT FROM) applied at the candidate stage — ann variant of
# the brute-force hard_negatives oracle above
@gate(oracle=f"""
        WITH params AS (
          SELECT greatest(count(*) // 16, 1) AS stride FROM embeddings),
        seeds AS (
          SELECT vec_id AS list_id, embedding AS centroid
          FROM embeddings, params WHERE vec_id % stride = 0
          ORDER BY vec_id LIMIT 16
        ), c_assign AS (
          SELECT vec_id AS c_id, label AS c_label, embedding AS cv,
                 list_id FROM (
            SELECT e.vec_id, e.label, e.embedding, s.list_id,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY {_cosine_sql('e.embedding', 's.centroid')} DESC,
                              s.list_id ASC) AS rn
            FROM embeddings e, seeds s) WHERE rn = 1
        ), q_assign AS (
          SELECT vec_id AS q_id, label AS q_label, embedding AS qv,
                 list_id FROM (
            SELECT e.vec_id, e.label, e.embedding, s.list_id,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY {_cosine_sql('e.embedding', 's.centroid')} DESC,
                              s.list_id ASC) AS rn
            FROM embeddings e, seeds s WHERE e.vec_id < 10) WHERE rn <= 4
        ), cand AS (
          SELECT DISTINCT q.q_id AS query_id, q.q_label AS query_label,
                 c.c_id AS neighbor_id, c.c_label AS neighbor_label,
                 q.qv, c.cv
          FROM q_assign q JOIN c_assign c USING (list_id)
          WHERE c.c_id != q.q_id
            AND q.q_label IS DISTINCT FROM c.c_label
        ), ranked AS (
          SELECT query_id, query_label, neighbor_id, neighbor_label,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY {_cosine_sql('qv', 'cv')} DESC,
                                             neighbor_id ASC) AS rank,
                 {_cosine_sql('qv', 'cv')} AS s
          FROM cand)
        SELECT query_id, query_label, neighbor_id, neighbor_label,
               CAST(rank AS INT) AS rank, round(s, 6) AS score
        FROM ranked WHERE rank <= 5""")
def q_hard_negatives_ann(spark, sf_dir):
    """Hard-negative mining through the IVF path (similarity.
    hard_negatives_ann, r7): corpus bucket-assigned to 16 stride-seeded
    lists, queries probe 4, candidates from the list_id EQUI-join with
    the null-safe label inequality pruning before scoring — the
    production shape whose brute-force sibling (hard_negatives) is
    BNLJ-allowlisted as a deliberate baseline. Deterministic buckets →
    the oracle replays seed selection + argmax assignment in SQL and the
    driver hash-checks the complete approximate result; recall vs exact
    is floored in tests/test_ann_recall.py."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.hard_negatives_ann(emb, emb.filter(F.col("vec_id") < 10),
                                  k=5, n_lists=16, n_probe=4,
                                  score_decimals=6)


@gate(oracle=f"""
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round({_cosine_sql('a.embedding', 'b.embedding')}, 4) AS score
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE {_cosine_sql('a.embedding', 'b.embedding')} >= 0.45""")
def q_embed_neardup(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return sim.cosine_neardup_pairs(emb, threshold=0.45)


# SemDeDup: same bit-exact refined centroids (n_lists=8), final cell
# assignment, then the drop rule — any member with a smaller-id
# within-cell neighbor at cosine >= threshold is dropped. The pair
# cosine is the sequential fold, bit-identical across engines.
@gate(oracle=f"""
        WITH {_kmeans_cte(8, 2)},
        fa AS (
          SELECT vec_id, emb, list_id AS cluster_id FROM (
            SELECT e.vec_id, e.embedding AS emb, s.list_id,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY {_cosine_sql('e.embedding', 's.centroid')} DESC,
                              s.list_id ASC) AS rn
            FROM embeddings e, seeds2 s) WHERE rn = 1
        ), drops AS (
          SELECT DISTINCT b.vec_id
          FROM fa a JOIN fa b ON a.cluster_id = b.cluster_id
                             AND a.vec_id < b.vec_id
          WHERE {_cosine_sql('a.emb', 'b.emb')} >= 0.45
        )
        SELECT vec_id, cluster_id FROM fa
        WHERE vec_id NOT IN (SELECT vec_id FROM drops)""")
def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style embedding dedup: k-means cells, drop lower-priority
    within-cell near-dups (similarity.semantic_dedup). Fully oracled: the
    Lloyd means are fixed-point exact (see kmeans_refine), so the DuckDB
    oracle unrolls the same 2 iterations to bit-equal centroids and
    hash-checks (vec_id, cluster_id) for the whole kept set. The drop rule
    is additionally pinned by tests/test_semantic_dedup_invariant.py and
    precision/recall floors vs the exact pair oracle in
    tests/test_similarity.py."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.semantic_dedup(emb, threshold=0.45, n_lists=8, iters=2)


# LSH ANN: the hyperplanes are pure integer mixing (similarity.
# _hyperplane), so DuckDB rebuilds the exact buckets; projections use
# integer weights (±2) over float32→double casts, so the >=0 sign is
# summation-order-stable and the bucket ids match Spark's numpy matmul
# bit-for-bit (verified; a flip would need |proj| < ~1e-12).
@gate(oracle=f"""
        WITH planes AS (
          SELECT t, b, i, (xor(m, m // 65536) % 5) - 2 AS w
          FROM (
            SELECT t.t, b.b, i.i,
                   (i.i * 2654435761 + b.b * 40503 + t.t * 69069 + 12345)
                   % 4294967296 AS m
            FROM (SELECT unnest(range(8)) AS t) t,
                 (SELECT unnest(range(6)) AS b) b,
                 (SELECT unnest(range(64)) AS i) i)
        ), wvecs AS (
          SELECT t, b, list(CAST(w AS DOUBLE) ORDER BY i) AS wv
          FROM planes GROUP BY t, b
        ), sigs AS (
          SELECT e.vec_id, e.embedding, w.t,
                 CAST(SUM(CASE WHEN list_reduce(list_transform(
                          list_zip(w.wv, e.embedding),
                          x -> x[1] * CAST(x[2] AS DOUBLE)),
                          (a, v) -> a + v) >= 0
                      THEN 1 << w.b ELSE 0 END) AS BIGINT) AS sig
          FROM embeddings e, wvecs w
          GROUP BY e.vec_id, e.embedding, w.t
        ), cand AS (
          SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 q.embedding AS qv, c.embedding AS cv
          FROM sigs q JOIN sigs c ON q.t = c.t AND q.sig = c.sig
                                  AND q.vec_id != c.vec_id
          WHERE q.vec_id < 10
        ), ranked AS (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY {_cosine_sql('qv', 'cv')} DESC,
                                             neighbor_id ASC) AS rank,
                 {_cosine_sql('qv', 'cv')} AS s
          FROM cand)
        SELECT query_id, neighbor_id, rank, round(s, 4) AS score
        FROM ranked WHERE rank <= 5""")
def q_embed_lsh_topk(spark, sf_dir):
    """LSH-bucketed ANN. Approximate vs brute force (recall < 1 by
    design), but DETERMINISTIC: the integer-mixed hyperplanes are
    reproducible in SQL, so the oracle rebuilds the exact buckets and the
    driver hash-checks the full result — an ANN path with a differential
    correctness gate, not just recall floors."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.lsh_bucket_topk(emb, emb.filter(F.col("vec_id") < 10), k=5,
                               dim=64, n_tables=8, n_bits=6)


# token embeddings: PPMI (one audited ln floor) -> 16 md5-signed
# sums -> squared-cosine ranking; heavily-reused CTEs MATERIALIZED
_emb_s = ", ".join(
    f"SUM((1 - 2 * (('0x' || substr(md5('{k}:' || c), 1, 1))::INT"
    f" % 2)) * p) AS e{k}" for k in range(16))
_emb_list = "[" + ", ".join(f"e{k}" for k in range(16)) + "]"


@gate(oracle=f"""
        WITH tkk AS MATERIALIZED (
            SELECT w FROM (
                SELECT {_TOK} AS w FROM documents
                WHERE trim(text) != '') b
            WHERE len(w) >= 2),
        pr AS (
            SELECT s.t AS t, s.c AS c FROM (
                SELECT unnest(list_transform(range(1, len(w)),
                              i -> {{'t': w[i], 'c': w[i+1]}})) AS s
                FROM tkk)
            UNION ALL
            SELECT s.t, s.c FROM (
                SELECT unnest(list_transform(range(1, len(w) - 1),
                              i -> {{'t': w[i], 'c': w[i+2]}})) AS s
                FROM tkk WHERE len(w) >= 3)),
        sym AS (
            SELECT t, c FROM pr
            UNION ALL
            SELECT c AS t, t AS c FROM pr),
        cnt AS MATERIALIZED (
            SELECT t, c, count(*) AS n FROM sym GROUP BY t, c
            HAVING count(*) >= 2),
        tot AS (SELECT SUM(n) AS s FROM cnt),
        mt AS MATERIALIZED (SELECT t, SUM(n) AS nt FROM cnt GROUP BY t),
        mc AS MATERIALIZED (SELECT c, SUM(n) AS nc FROM cnt GROUP BY c),
        scored AS MATERIALIZED (
            SELECT * FROM (
                SELECT cnt.t, cnt.c,
                       greatest(CAST(floor(1000 * ln(
                           (cnt.n::DOUBLE * tot.s) / (mt.nt::DOUBLE
                                                      * mc.nc)))
                           AS BIGINT), 0) AS p
                FROM cnt JOIN mt ON cnt.t = mt.t
                JOIN mc ON cnt.c = mc.c CROSS JOIN tot) z
            WHERE p > 0),
        emb AS MATERIALIZED (
            SELECT t AS tok, {_emb_s} FROM scored GROUP BY t),
        comp AS MATERIALIZED (
            SELECT tok, unnest(range(16)) AS k,
                   unnest({_emb_list}) AS e
            FROM emb),
        nrm AS MATERIALIZED (
            SELECT tok, SUM(e::HUGEINT * e) AS n2 FROM comp GROUP BY tok),
        freq AS (
            SELECT t AS tok, count(*) AS f FROM (
                SELECT unnest({_TOK}) AS t FROM documents
                WHERE trim(text) != '') g GROUP BY t),
        probes AS MATERIALIZED (
            SELECT f.tok FROM freq f JOIN emb ON f.tok = emb.tok
            ORDER BY f.f DESC, f.tok ASC LIMIT 5),
        pcomp AS MATERIALIZED (
            SELECT p.tok AS probe, c.k, c.e AS pe
            FROM probes p JOIN comp c ON p.tok = c.tok),
        dots AS MATERIALIZED (
            SELECT pc.probe, c.tok, SUM(pc.pe::HUGEINT * c.e) AS dot
            FROM comp c JOIN pcomp pc ON c.k = pc.k
            WHERE c.tok != pc.probe
            GROUP BY pc.probe, c.tok
            HAVING SUM(pc.pe::HUGEINT * c.e) > 0),
        ranked AS (
            SELECT d.probe, d.tok,
                   CAST(d.dot * d.dot * 1000000
                        // (np.n2 * nt2.n2) AS BIGINT) AS cos2_ppm
            FROM dots d
            JOIN nrm np ON d.probe = np.tok
            JOIN nrm nt2 ON d.tok = nt2.tok)
        SELECT probe, tok, cos2_ppm, CAST(rnk AS BIGINT) AS rnk
        FROM (SELECT probe, tok, cos2_ppm, row_number() OVER (
                  PARTITION BY probe
                  ORDER BY cos2_ppm DESC, tok ASC) AS rnk
              FROM ranked) z
        WHERE rnk <= 5""")
def q_token_embed_topk(spark, sf_dir):
    """Distributional token embeddings TRAINED IN THE ENGINE
    (functions.text.token_embeddings + token_embed_topk, r10): PPMI
    co-occurrence vectors (±2 window, the matrix word2vec implicitly
    factorizes) compressed to 16 dims by md5-signed random projection,
    then nearest tokens for the 5 most frequent probes by the exact
    squared-cosine rational (dot > 0 candidates — the zipf_slope div
    clamp). One audited ln floor in the whole train+search pipeline;
    everything else is integer. The oracle replays co-occurrence,
    PPMI, all 16 signed sums, norms, dots and the ranking."""
    docs = _t(spark, sf_dir, "documents")
    return tx.token_embed_topk(docs, n_probes=5, k=5, window=2, dim=16,
                               min_pair=2)


# TF-IDF doc pairs: squared-cosine rational in HUGEINT over the
# df-capped term space; ln floors at the 1e3 scale margin-audited
@gate(oracle=f"""
        WITH base AS (
            SELECT doc_id, {_TOK} AS w FROM documents
            WHERE trim(text) != ''),
        nn AS (SELECT count(*) AS n FROM base),
        tf AS (
            SELECT doc_id AS d, t, count(*) AS tf FROM (
                SELECT doc_id, unnest(w) AS t FROM base) g
            GROUP BY doc_id, t),
        dfq AS (
            SELECT t, count(*) AS df FROM tf GROUP BY t
            HAVING count(*) BETWEEN 2 AND 50),
        post AS (
            SELECT * FROM (
                SELECT tf.t, tf.d,
                       tf.tf * CAST(floor(1000 * ln(nn.n::DOUBLE / dfq.df))
                                    AS BIGINT) AS w
                FROM tf JOIN dfq ON tf.t = dfq.t CROSS JOIN nn) z
            WHERE w > 0),
        norms AS (
            SELECT d, SUM(w::HUGEINT * w) AS n2 FROM post GROUP BY d),
        dots AS (
            SELECT a.d AS da, b.d AS db, count(*) AS ns,
                   SUM(a.w::HUGEINT * b.w) AS dot
            FROM post a JOIN post b ON a.t = b.t AND a.d < b.d
            GROUP BY a.d, b.d)
        SELECT dots.da AS doc_a, dots.db AS doc_b,
               CAST(dots.ns AS BIGINT) AS n_shared,
               CAST(dot * dot * 1000000 // (na.n2 * nb.n2) AS BIGINT)
                 AS cos2_ppm
        FROM dots
        JOIN norms na ON dots.da = na.d
        JOIN norms nb ON dots.db = nb.d
        WHERE dot * dot * 1000000 // (na.n2 * nb.n2) >= 250000""")
def q_tfidf_doc_pairs(spark, sf_dir):
    """All-pairs TF-IDF cosine similarity (functions.retrieval.
    tfidf_doc_pairs, r10) — SemDeDup's lexical sibling over the
    inverted index: SQUARED cosine as an exact integer rational
    (dot²·10⁶ div n_a·n_b — no sqrt, no float ranking), the 10³ idf
    scale keeping everything in 38 digits. df-capped term space
    (2 ≤ df ≤ 50) bounds the self-join fanout AND defines the cosine's
    space self-consistently; pairs ≥ 0.25 cos² (cos ≥ 0.5) published."""
    docs = _t(spark, sf_dir, "documents")
    return rt.tfidf_doc_pairs(docs, min_cos2_ppm=250_000, max_df=50)


# doc_embed_topk (r11): the token-embedding CTE chain (identical
# training arithmetic to token_embed_topk) + tf-weighted sum
# pooling per document + the squared-cosine rational ranking over
# the first-5 probe docs. The chain through dnrm/dprobes/dpc is
# shared verbatim with doc_embed_ann (r12), which swaps the
# all-docs scoring for IVF-bucket candidate generation.
_docvec_ctes = f"""
        dbase AS MATERIALIZED (
            SELECT doc_id, {_TOK} AS w FROM documents
            WHERE trim(text) != ''),
        tkk AS MATERIALIZED (
            SELECT w FROM dbase WHERE len(w) >= 2),
        pr AS (
            SELECT s.t AS t, s.c AS c FROM (
                SELECT unnest(list_transform(range(1, len(w)),
                              i -> {{'t': w[i], 'c': w[i+1]}})) AS s
                FROM tkk)
            UNION ALL
            SELECT s.t, s.c FROM (
                SELECT unnest(list_transform(range(1, len(w) - 1),
                              i -> {{'t': w[i], 'c': w[i+2]}})) AS s
                FROM tkk WHERE len(w) >= 3)),
        sym AS (
            SELECT t, c FROM pr
            UNION ALL
            SELECT c AS t, t AS c FROM pr),
        cnt AS MATERIALIZED (
            SELECT t, c, count(*) AS n FROM sym GROUP BY t, c
            HAVING count(*) >= 2),
        tot AS (SELECT SUM(n) AS s FROM cnt),
        mt AS MATERIALIZED (SELECT t, SUM(n) AS nt FROM cnt GROUP BY t),
        mc AS MATERIALIZED (SELECT c, SUM(n) AS nc FROM cnt GROUP BY c),
        scored AS MATERIALIZED (
            SELECT * FROM (
                SELECT cnt.t, cnt.c,
                       greatest(CAST(floor(1000 * ln(
                           (cnt.n::DOUBLE * tot.s) / (mt.nt::DOUBLE
                                                      * mc.nc)))
                           AS BIGINT), 0) AS p
                FROM cnt JOIN mt ON cnt.t = mt.t
                JOIN mc ON cnt.c = mc.c CROSS JOIN tot) z
            WHERE p > 0),
        emb AS MATERIALIZED (
            SELECT t AS tok, {_emb_s} FROM scored GROUP BY t),
        comp AS MATERIALIZED (
            SELECT tok, unnest(range(16)) AS k,
                   unnest({_emb_list}) AS e
            FROM emb),
        docc AS MATERIALIZED (
            SELECT doc_id, t AS tok, count(*) AS tf FROM (
                SELECT doc_id, unnest(w) AS t FROM dbase) g
            GROUP BY doc_id, t),
        dcomp AS MATERIALIZED (
            SELECT d.doc_id, c.k, SUM(d.tf::HUGEINT * c.e) AS e
            FROM docc d JOIN comp c ON d.tok = c.tok
            GROUP BY d.doc_id, c.k),
        dnrm AS MATERIALIZED (
            SELECT doc_id, SUM(e * e) AS n2 FROM dcomp GROUP BY doc_id
            HAVING SUM(e * e) > 0),
        dprobes AS MATERIALIZED (
            SELECT doc_id AS probe_doc FROM dnrm
            ORDER BY doc_id ASC LIMIT 5),
        dpc AS MATERIALIZED (
            SELECT p.probe_doc, c.k, c.e AS pe
            FROM dprobes p JOIN dcomp c ON p.probe_doc = c.doc_id)"""


@gate(oracle=f"""
        WITH {_docvec_ctes},
        ddots AS MATERIALIZED (
            SELECT pc.probe_doc, c.doc_id, SUM(pc.pe * c.e) AS dot
            FROM dcomp c JOIN dpc pc ON c.k = pc.k
            WHERE c.doc_id != pc.probe_doc
            GROUP BY pc.probe_doc, c.doc_id
            HAVING SUM(pc.pe * c.e) > 0),
        dranked AS (
            SELECT d.probe_doc, d.doc_id,
                   CAST(d.dot * d.dot * 1000000
                        // (np.n2 * nd.n2) AS BIGINT) AS cos2_ppm
            FROM ddots d
            JOIN dnrm np ON d.probe_doc = np.doc_id
            JOIN dnrm nd ON d.doc_id = nd.doc_id)
        SELECT probe_doc, doc_id, cos2_ppm, CAST(rnk AS BIGINT) AS rnk
        FROM (SELECT probe_doc, doc_id, cos2_ppm, row_number() OVER (
                  PARTITION BY probe_doc
                  ORDER BY cos2_ppm DESC, doc_id ASC) AS rnk
              FROM dranked) z
        WHERE rnk <= 5""")
def q_doc_embed_topk(spark, sf_dir):
    """Document-level semantic search over ENGINE-TRAINED embeddings
    (functions.text.doc_embed_topk, r11): tf-weighted sum pooling of
    the PPMI token vectors (sum ≡ mean under cosine — per-vector
    scale invariance — so pooling stays exact BIGINT), then exact
    squared-cosine top-5 for the first 5 docs with a nonzero vector.
    The pre-neural doc2vec baseline end to end in one engine; the
    oracle replays training, pooling, norms, dots and ranking with
    ONE audited ln floor (the token_embed_topk boundary class)."""
    docs = _t(spark, sf_dir, "documents")
    return tx.doc_embed_topk(docs, n_probes=5, k=5, window=2, dim=16,
                             min_pair=2)


# doc_embed_ann (r12): the same pooled doc vectors routed through
# EXACT-INTEGER seeded IVF — seeds are every strideth doc with a
# nonzero vector; coarse assignment ranks lists by the rational
# squared cosine with the common doc norm dropped, q = sign(dot)
# · (dot²·10⁶ // ‖seed‖²), all HUGEINT; each doc lands in its
# top-1 list, probes scan their top-6 of 16 lists; candidates are
# scored with doc_embed_topk's exact arithmetic. Deterministic
# (only positive integral division + asc-id tie-breaks), so the
# approximate-by-design ANN result still hash-matches exactly.
@gate(oracle=f"""
        WITH {_docvec_ctes},
        dnn AS (SELECT count(*) AS n FROM dnrm),
        seeds AS MATERIALIZED (
            SELECT doc_id AS list_id, n2 AS sn2 FROM dnrm
            WHERE doc_id % (SELECT greatest(1, n // 16) FROM dnn) = 0
            ORDER BY doc_id ASC LIMIT 16),
        scomp AS MATERIALIZED (
            SELECT s.list_id, s.sn2, c.k, c.e AS se
            FROM seeds s JOIN dcomp c ON s.list_id = c.doc_id),
        adots AS MATERIALIZED (
            SELECT d.doc_id, s.list_id, s.sn2, SUM(s.se * d.e) AS dot
            FROM dcomp d JOIN scomp s ON d.k = s.k
            GROUP BY d.doc_id, s.list_id, s.sn2),
        assign AS MATERIALIZED (
            SELECT doc_id, list_id, row_number() OVER (
                PARTITION BY doc_id ORDER BY q DESC, list_id ASC) AS r
            FROM (SELECT doc_id, list_id,
                         (CASE WHEN dot < 0 THEN -1 ELSE 1 END)
                         * ((dot * dot * 1000000) // sn2) AS q
                  FROM adots) z),
        cassign AS MATERIALIZED (
            SELECT doc_id, list_id FROM assign WHERE r = 1),
        passign AS (
            SELECT p.probe_doc, a.list_id FROM dprobes p
            JOIN assign a ON a.doc_id = p.probe_doc AND a.r <= 6),
        cand AS MATERIALIZED (
            SELECT DISTINCT p.probe_doc, c.doc_id
            FROM passign p JOIN cassign c ON p.list_id = c.list_id
            WHERE c.doc_id != p.probe_doc),
        cdots AS MATERIALIZED (
            SELECT cd.probe_doc, cd.doc_id, SUM(pc.pe * dc.e) AS dot
            FROM cand cd
            JOIN dcomp dc ON dc.doc_id = cd.doc_id
            JOIN dpc pc ON pc.probe_doc = cd.probe_doc
                       AND pc.k = dc.k
            GROUP BY cd.probe_doc, cd.doc_id
            HAVING SUM(pc.pe * dc.e) > 0),
        dranked AS (
            SELECT d.probe_doc, d.doc_id,
                   CAST(d.dot * d.dot * 1000000
                        // (np.n2 * nd.n2) AS BIGINT) AS cos2_ppm
            FROM cdots d
            JOIN dnrm np ON d.probe_doc = np.doc_id
            JOIN dnrm nd ON d.doc_id = nd.doc_id)
        SELECT probe_doc, doc_id, cos2_ppm, CAST(rnk AS BIGINT) AS rnk
        FROM (SELECT probe_doc, doc_id, cos2_ppm, row_number() OVER (
                  PARTITION BY probe_doc
                  ORDER BY cos2_ppm DESC, doc_id ASC) AS rnk
              FROM dranked) z
        WHERE rnk <= 5""")
def q_doc_embed_ann(spark, sf_dir):
    """IVF-routed document search (functions.text.doc_embed_ann, r12):
    the doc_embed_topk pooled vectors routed through EXACT-INTEGER
    seeded IVF — 16 lists seeded by id stride, coarse assignment by
    the rational squared cosine sign(dot)·(dot²·10⁶ div ‖seed‖²) in
    DECIMAL(38,0), docs in their top-1 list, probes scanning their
    top 6 — then doc_embed_topk's exact scoring over the bucket-join
    candidates only. Approximate by design (recall floor vs the exact
    tier pinned in tests at 1.0 on all gate corpora) yet fully
    deterministic, so it hash-certifies where float-cosine ANN needs
    margin audits. The 100 TB shape: assignment is one broadcast
    equi-join against n_lists·dim seed components (the FAISS coarse-
    quantize cost), candidates come from a bucket equi-join — the
    corpus is never all-pairs scored."""
    docs = _t(spark, sf_dir, "documents")
    return tx.doc_embed_ann(docs, n_probes=5, k=5, window=2, dim=16,
                            min_pair=2, n_lists=16, n_probe_lists=6)


# class prototypes: 64 fixed-point component sums unrolled — SUM of
# floor(x·2^24) BIGINTs is exact and order-free on both engines; the
# single trailing division is IEEE-identical
_csums = ", ".join(
    f"SUM(CAST(floor(CAST(embedding[{i + 1}] AS DOUBLE) * 16777216.0)"
    f" AS BIGINT)) AS s{i}" for i in range(64))
_ccols = ", ".join(f"s{i} / (n_vecs * 16777216.0)" for i in range(64))


@gate(oracle=f"""
        SELECT label, n_vecs, unnest(range(64)) AS idx,
               unnest(centroid) AS value
        FROM (SELECT label, n_vecs, list_value({_ccols}) AS centroid
              FROM (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs, {_csums}
                    FROM embeddings GROUP BY label) g) c""")
def q_embed_centroids(spark, sf_dir):
    """Per-label mean embedding (functions.similarity.embed_centroids) —
    class prototypes via fixed-point integer sums: floor(x·2^24) BIGINT
    accumulation makes the centroid partition-order-independent and
    bit-identical to the SQL oracle's 64 unrolled component sums. The
    centroid vector is scalarized to (label, n_vecs, idx, value) rows so
    the driver canonicalizer can hash it (r5 driver ERR on array cells)."""
    emb = _t(spark, sf_dir, "embeddings")
    return (sim.embed_centroids(emb, label_col="label")
            .select("label", "n_vecs",
                    F.posexplode("centroid").alias("idx", "value"))
            .select("label", "n_vecs",
                    F.col("idx").cast("long").alias("idx"), "value"))


# TF-IDF: integerized idf = floor(1e6·ln(N/df)); scores are BIGINT so
# ranking is exact. The ln() margin from integer boundaries is audited
# in tests/test_oracle_margins.py.
_TFIDF_TOPK_ORACLE = f"""
        WITH tok AS (
            SELECT doc_id, unnest({_TOK}) AS tok
            FROM documents WHERE trim(text) != ''),
        qt AS (
            SELECT doc_id, tok, count(*) AS tf
            FROM tok WHERE tok IN ('spark', 'shuffle', 'window')
            GROUP BY doc_id, tok),
        dft AS (
            SELECT tok,
                   CAST(floor(1000000.0 * ln(
                       (SELECT CAST(count(*) AS DOUBLE) FROM documents)
                       / count(*))) AS BIGINT) AS idf
            FROM qt GROUP BY tok)
        SELECT q.doc_id,
               CAST(SUM(q.tf * d.idf) AS BIGINT) AS score,
               CAST(row_number() OVER (
                   ORDER BY SUM(q.tf * d.idf) DESC, q.doc_id ASC) AS INT)
                 AS rank
        FROM qt q JOIN dft d ON q.tok = d.tok
        GROUP BY q.doc_id
        ORDER BY score DESC, doc_id ASC
        LIMIT 20"""


@gate(oracle=_TFIDF_TOPK_ORACLE)
def q_tfidf_topk(spark, sf_dir):
    """Top-20 documents by integerized TF-IDF for a fixed query bag
    (functions.retrieval.tfidf_topk) — the cheap lexical retriever that
    slices topic-relevant docs out of a corpus before any embedding model
    runs. idf is floor(1e6·ln(N/df)): deterministic given the margin
    audit; scores and ranking are pure BIGINT."""
    docs = _t(spark, sf_dir, "documents")
    return rt.tfidf_topk(docs, ["spark", "shuffle", "window"], k=20)


# BM25: only the idf ln is floated (margin-audited); contributions
# are HUGEINT // ≡ Spark DECIMAL(38,0) div, always-positive Lucene
# idf so truncation ≡ floor on both engines
_BM25_TOPK_ORACLE = f"""
        WITH live AS (
          SELECT doc_id, text FROM documents WHERE trim(text) != ''),
        meta AS (
          SELECT count(*) AS n, sum(len({_TOK})) AS t FROM live),
        tok AS (
          SELECT doc_id, len({_TOK}) AS dl, unnest({_TOK}) AS tok
          FROM live),
        tf AS (
          SELECT doc_id, tok, count(*) AS tf, max(dl) AS dl FROM tok
          WHERE tok IN ('spark', 'shuffle', 'window')
          GROUP BY doc_id, tok),
        dft AS (
          SELECT tok,
                 CAST(floor(1000000 * ln(
                     (2.0 * (SELECT n FROM meta) + 2) / (2 * count(*) + 1)
                 )) AS BIGINT) AS idf
          FROM tf GROUP BY tok),
        c AS (
          SELECT q.doc_id,
                 (CAST(d.idf AS HUGEINT) * 22 * q.tf * (SELECT t FROM meta))
                 // (CAST(10 AS HUGEINT) * q.tf * (SELECT t FROM meta)
                     + CAST(3 AS HUGEINT) * (SELECT t FROM meta)
                     + CAST(9 AS HUGEINT) * q.dl * (SELECT n FROM meta))
                   AS contrib
          FROM tf q JOIN dft d USING (tok))
        SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS score,
               CAST(row_number() OVER (
                   ORDER BY sum(contrib) DESC, doc_id ASC) AS INT) AS rank
        FROM c GROUP BY doc_id
        ORDER BY score DESC, doc_id ASC
        LIMIT 20"""


@gate(oracle=_BM25_TOPK_ORACLE)
def q_bm25_topk(spark, sf_dir):
    """Top-20 documents by BM25 (functions.retrieval.bm25_topk, r7) —
    TF-IDF's production successor: tf saturation (k1=6/5) + doc-length
    normalization (b=3/4). The rational k1/b make everything EXCEPT the
    idf ln exact integer arithmetic: per-term contribution is
    idf·22·tf·T div (10·tf·T + 3·T + 9·dl·N), DECIMAL(38,0) div on
    Spark ≡ HUGEINT // on DuckDB (probed equal); idf is Lucene's
    always-positive floor(1e6·ln((2N+2)/(2df+1))), margin-audited."""
    docs = _t(spark, sf_dir, "documents")
    return rt.bm25_topk(docs, ["spark", "shuffle", "window"], k=20)


# hybrid RRF (r11): compose the certified BM25 ranking SQL with the
# embed_topk-pattern dense ranking for query 0, fuse with the exact
# integer 10^6 // (60 + rank) arithmetic (missing rank -> 0)
_HYBRID_RRF_ORACLE = f"""
        WITH lexr AS (
            SELECT doc_id, rank FROM ({_BM25_TOPK_ORACLE}) lx),
        dsc AS (
            SELECT c.vec_id AS doc_id,
                   {_cosine_sql('q.embedding', 'c.embedding')} AS s
            FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
            WHERE q.vec_id = 0),
        denser AS (
            SELECT doc_id, rank FROM (
                SELECT doc_id, CAST(row_number() OVER (
                    ORDER BY s DESC, doc_id ASC) AS INT) AS rank
                FROM dsc) z WHERE rank <= 20),
        fused AS (
            SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
                   l.rank AS lex_rank, d.rank AS dense_rank,
                   CAST(COALESCE(1000000 // (60 + l.rank), 0)
                        + COALESCE(1000000 // (60 + d.rank), 0)
                        AS BIGINT) AS rrf_score
            FROM lexr l FULL JOIN denser d ON l.doc_id = d.doc_id)
        SELECT doc_id, rrf_score, lex_rank, dense_rank,
               CAST(row_number() OVER (
                   ORDER BY rrf_score DESC, doc_id ASC) AS INT) AS rank
        FROM fused
        ORDER BY rrf_score DESC, doc_id ASC
        LIMIT 10"""


@gate(oracle=_HYBRID_RRF_ORACLE)
def q_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval by reciprocal-rank fusion (functions.retrieval.
    hybrid_rrf, r11) — the standard lexical+dense production merge:
    BM25 top-20 (the certified bm25_topk ranking) fused with the exact
    cosine top-20 for query vector 0 (the certified embed_topk
    machinery) by rrf = Σ 10⁶ div (60 + rank), missing ranks → 0.
    Composes two certified rankers with exact integer fusion — no new
    float surface; the oracle composes both ranking SQLs and replays
    the fusion arithmetic."""
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    lex = rt.bm25_topk(docs, ["spark", "shuffle", "window"], k=20) \
        .select("doc_id", "rank")
    dense = (sim.cosine_topk(emb, emb.filter(F.col("vec_id") == 0),
                             k=20, score_decimals=6)
             .select(F.col("neighbor_id").alias("doc_id"), "rank"))
    return rt.hybrid_rrf(lex, dense, k=10, rrf_k=60)


# retrieval_eval (r11): DCG@10 numerators for tfidf/bm25/hybrid vs
# the corpus ideal; discounts inlined from the SAME Python constants
# the Spark op uses (retrieval._dcg_discounts — one source of truth)
from bqetl_spark.functions.retrieval import _dcg_discounts

_disc_rows = ", ".join(f"({i + 1}, CAST({dv} AS BIGINT))"
                       for i, dv in enumerate(_dcg_discounts(10)))


@gate(oracle=f"""
        WITH rrel AS (
            SELECT doc_id,
                   CAST(len(list_intersect(list_distinct({_TOK}),
                        ['spark', 'shuffle', 'window'])) AS BIGINT) AS rel
            FROM documents),
        disc(rk, dd) AS (VALUES {_disc_rows}),
        ideal AS (
            SELECT COALESCE(SUM(rel * dd), 0) AS ideal_micro
            FROM (SELECT rel, row_number() OVER (
                      ORDER BY rel DESC, doc_id ASC) AS rk FROM rrel) t
            JOIN disc USING (rk)),
        systems AS (
            SELECT 'tfidf' AS system, doc_id, rank
            FROM ({_TFIDF_TOPK_ORACLE}) t1 WHERE rank <= 10
            UNION ALL
            SELECT 'bm25' AS system, doc_id, rank
            FROM ({_BM25_TOPK_ORACLE}) t2 WHERE rank <= 10
            UNION ALL
            SELECT 'hybrid' AS system, doc_id, rank
            FROM ({_HYBRID_RRF_ORACLE}) t3 WHERE rank <= 10),
        scored AS (
            SELECT s.system,
                   CAST(COALESCE(SUM(COALESCE(r.rel, 0) * disc.dd), 0)
                        AS BIGINT) AS dcg_micro,
                   CAST(count(*) AS BIGINT) AS n_scored
            FROM systems s
            JOIN disc ON disc.rk = s.rank
            LEFT JOIN rrel r ON r.doc_id = s.doc_id
            GROUP BY s.system)
        SELECT system, dcg_micro,
               (SELECT CAST(ideal_micro AS BIGINT) FROM ideal)
                 AS ideal_micro,
               n_scored
        FROM scored""")
def q_retrieval_eval(spark, sf_dir):
    """Ranking evaluation as a first-class op (functions.retrieval.
    ndcg_eval, r11): graded-relevance DCG@10 for tfidf vs bm25 vs the
    hybrid RRF fusion, side by side with the corpus ideal — closes the
    retrieval loop (rank → fuse → EVALUATE) the way langid_confusion
    closes the classifier loop. Relevance = number of distinct query
    terms a document contains (0..3, SQL-replayable weak grading);
    discounts d_i = floor(10⁶/log2(i+1)) are Python-precomputed
    CONSTANTS inlined into both engines (the phash DCT-table
    discipline), so the whole evaluation is integer-exact — the gate
    publishes exact numerators (dcg_micro, ideal_micro), never the
    float ratio."""
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    terms = ["spark", "shuffle", "window"]
    # rel is consumed 4x inside ndcg_eval (ideal + one join per system)
    # and each consumer would re-run the tokenize pass — checkpoint the
    # doc-count-sized (id, rel) table once (r12 opt). The three builders
    # below each run small eager jobs (rel's checkpoint, tfidf's corpus
    # count, bm25's two metadata collects + lex checkpoint) that are
    # independent — build them from a thread pool so the jobs overlap
    # on idle cores (guide §2.6, the corpus_curate_multimodal pattern).
    from concurrent.futures import ThreadPoolExecutor

    def _rel():
        return ckpt(docs.select(
            "doc_id",
            F.size(F.array_intersect(
                F.array_distinct(tx.tokens(F.col("text"))),
                F.array(*[F.lit(t) for t in terms])))
            .cast("long").alias("rel")))

    def _tfidf():
        return rt.tfidf_topk(docs, terms, k=10).select("doc_id", "rank")

    def _lex():
        # bm25@10 IS the rank<=10 prefix of bm25@20 (row_number over the
        # same deterministic total order: score desc, id asc) — computing
        # it as a filter drops a whole second bm25 pass over the corpus
        # (r12 opt: one fewer tokenize+explode+tf aggregation and two
        # fewer metadata collects; sweep hash-MATCH proves the identity)
        return ckpt(rt.bm25_topk(docs, terms, k=20)
                    .select("doc_id", "rank"))

    with ThreadPoolExecutor(max_workers=3) as pool:
        fr, ff, fl = (pool.submit(_rel), pool.submit(_tfidf),
                      pool.submit(_lex))
        rel, tfidf, lex = fr.result(), ff.result(), fl.result()
    bm = lex.filter(F.col("rank") <= 10)
    dense = (sim.cosine_topk(emb, emb.filter(F.col("vec_id") == 0),
                             k=20, score_decimals=6)
             .select(F.col("neighbor_id").alias("doc_id"), "rank"))
    hybrid = rt.hybrid_rrf(lex, dense, k=10).select("doc_id", "rank")
    return rt.ndcg_eval({"tfidf": tfidf, "bm25": bm, "hybrid": hybrid},
                        rel, k=10)


# ivf_incremental (r11): seen-half Lloyd + frozen-centroid argmax
# assignment of the odd half
@gate(oracle=f"""
        WITH {_kmeans_cte(16, 2, where="vec_id % 2 = 0")}
        SELECT vec_id, list_id FROM (
            SELECT e.vec_id, s.list_id,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY {_cosine_sql('e.embedding', 's.centroid')} DESC,
                              s.list_id ASC) AS rn
            FROM embeddings e, seeds2 s WHERE e.vec_id % 2 = 1)
        WHERE rn = 1""")
def q_ivf_incremental(spark, sf_dir):
    """IVF index MAINTENANCE (similarity.ivf_assign, r11): centroids
    train on the seen half of the corpus (even vec_ids, the certified
    fixed-point Lloyd of kmeans_refine), then the NEW batch (odd ids)
    is assigned to the FROZEN centroids with one Arrow-vectorized map
    — the production ANN pattern: retrain rarely, assign continuously,
    never rebuild. Completes the incremental family grid (dedup:
    minhash_incremental; sketches: kmv/quantile_incremental; ANN:
    this). Oracle replays the seen-half Lloyd (the _kmeans_cte
    machinery with a training-corpus filter) + the argmax-cosine
    assignment of the odd half."""
    emb = _t(spark, sf_dir, "embeddings")
    seen = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    cents = sim.kmeans_refine(seen, n_lists=16, iters=2)
    return sim.ivf_assign(new, cents)


# product quantization: codebook (stride seeds -> integer-Lloyd step,
# sum // count == Spark's div on the POSITIVE-shifted grid), codes,
# ADC shortlist and exact re-rank all replay in integer arithmetic;
# argmins carry the (dist, id) total order
@gate(oracle="""
        WITH params AS (
          SELECT greatest(count(*) // 16, 1) AS stride FROM embeddings),
        comp AS (
          SELECT vec_id AS cid,
                 CAST((pos - 1) // 16 AS INT) AS sub,
                 CAST((pos - 1) % 16 AS INT) AS i,
                 CAST(floor(CAST(e[pos] AS DOUBLE) * 16777216.0) AS BIGINT)
                   + 16777216 AS val
          FROM (SELECT vec_id, embedding AS e FROM embeddings),
               LATERAL (SELECT unnest(generate_series(1, len(e))) AS pos) t),
        seed_ids AS (
          SELECT vec_id AS sid FROM embeddings, params
          WHERE vec_id % stride = 0 ORDER BY vec_id LIMIT 16),
        seedc AS (
          SELECT s.sid, c.sub, c.i, c.val AS sval
          FROM comp c JOIN seed_ids s ON c.cid = s.sid),
        a0 AS (
          SELECT cid, sub, sid FROM (
            SELECT d.cid, d.sub, d.sid,
                   row_number() OVER (PARTITION BY d.cid, d.sub
                                      ORDER BY d.d, d.sid) AS rn
            FROM (SELECT c.cid, c.sub, s.sid,
                         sum((c.val - s.sval) * (c.val - s.sval)) AS d
                  FROM comp c JOIN seedc s
                    ON c.sub = s.sub AND c.i = s.i
                  GROUP BY c.cid, c.sub, s.sid) d) WHERE rn = 1),
        cent AS (
          SELECT c.sub, a.sid, c.i, sum(c.val) // count(*) AS cval
          FROM comp c JOIN a0 a ON c.cid = a.cid AND c.sub = a.sub
          GROUP BY c.sub, a.sid, c.i),
        codes AS (
          SELECT cid, sub, sid FROM (
            SELECT d.cid, d.sub, d.sid,
                   row_number() OVER (PARTITION BY d.cid, d.sub
                                      ORDER BY d.d, d.sid) AS rn
            FROM (SELECT c.cid, c.sub, k.sid,
                         sum((c.val - k.cval) * (c.val - k.cval)) AS d
                  FROM comp c JOIN cent k
                    ON c.sub = k.sub AND c.i = k.i
                  GROUP BY c.cid, c.sub, k.sid) d) WHERE rn = 1),
        qd AS (
          SELECT c.cid AS qid, k.sub, k.sid,
                 sum((c.val - k.cval) * (c.val - k.cval)) AS qdist
          FROM comp c JOIN cent k ON c.sub = k.sub AND c.i = k.i
          WHERE c.cid < 10
          GROUP BY c.cid, k.sub, k.sid),
        adc AS (
          SELECT q.qid, x.cid, CAST(sum(q.qdist) AS BIGINT) AS adc
          FROM codes x JOIN qd q ON x.sub = q.sub AND x.sid = q.sid
          GROUP BY q.qid, x.cid
          HAVING count(*) = 4),
        short AS (
          SELECT qid, cid FROM (
            SELECT qid, cid, row_number() OVER (
                PARTITION BY qid ORDER BY adc ASC, cid ASC) AS arn
            FROM adc WHERE qid != cid) WHERE arn <= 100),
        ex AS (
          SELECT s.qid, s.cid,
                 CAST(sum((qc.val - cc.val) * (qc.val - cc.val)) AS BIGINT)
                   AS dist
          FROM short s
          JOIN comp cc ON cc.cid = s.cid
          JOIN comp qc ON qc.cid = s.qid AND qc.sub = cc.sub
                       AND qc.i = cc.i
          GROUP BY s.qid, s.cid)
        SELECT qid AS query_id, cid AS neighbor_id,
               CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY dist ASC, cid ASC) AS INT) AS rank, dist
        FROM ex QUALIFY rank <= 5""")
def q_embed_pq_topk(spark, sf_dir):
    """Product-quantization ANN with exact re-rank (similarity.pq_topk,
    r7): dim-64 vectors become 4 sub-codes from stride-seeded 16-entry
    codebooks (one integer-Lloyd step on the positive-shifted 2^-24
    grid, sum div count = exact floor on both engines), the ADC
    shortlist scans CODES not vectors, and the top-100 shortlist is
    exactly re-ranked in integer L2 — FAISS's IndexPQ+refine shape.
    Every stage is integer arithmetic, so codebooks, codes, ADC and the
    final distances replay bit-identically in SQL; recall vs exact is
    floored in tests/test_ann_recall.py (0.78 measured at sf0.01)."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.pq_topk(emb, emb.filter(F.col("vec_id") < 10),
                       k=5, m=4, ks=16, refine=100)


# IVF-PQ: the full coarse-quantize -> residual-PQ -> ADC -> re-rank
# replay. Residuals are positive-shifted by 2^25 (IVFPQ_RSHIFT) so
# every Lloyd mean is sum // count on non-negative values — the grid
# where DuckDB's floor `//` equals Spark's truncating `div`; the
# shift cancels in every squared difference.
@gate(oracle="""
        WITH params AS (
          SELECT greatest(count(*) // 8, 1) AS stride_c,
                 greatest(count(*) // 16, 1) AS stride_r FROM embeddings),
        comp AS (
          SELECT vec_id AS cid, CAST(pos - 1 AS INT) AS i,
                 CAST(floor(CAST(e[pos] AS DOUBLE) * 16777216.0) AS BIGINT)
                   + 16777216 AS val
          FROM (SELECT vec_id, embedding AS e FROM embeddings),
               LATERAL (SELECT unnest(generate_series(1, len(e))) AS pos) t),
        cseed_ids AS (
          SELECT vec_id AS list_id FROM embeddings, params
          WHERE vec_id % stride_c = 0 ORDER BY vec_id LIMIT 8),
        cseedc AS (
          SELECT s.list_id, c.i, c.val AS sval
          FROM comp c JOIN cseed_ids s ON c.cid = s.list_id),
        ca0 AS (
          SELECT cid, list_id FROM (
            SELECT d.cid, d.list_id, row_number() OVER (
                PARTITION BY d.cid ORDER BY d.d, d.list_id) AS rn
            FROM (SELECT c.cid, s.list_id,
                         sum((c.val - s.sval) * (c.val - s.sval)) AS d
                  FROM comp c JOIN cseedc s ON c.i = s.i
                  GROUP BY c.cid, s.list_id) d) WHERE rn = 1),
        ccent AS (
          SELECT a.list_id, c.i, sum(c.val) // count(*) AS cval
          FROM comp c JOIN ca0 a ON c.cid = a.cid GROUP BY a.list_id, c.i),
        cassign AS (
          SELECT cid, list_id FROM (
            SELECT d.cid, d.list_id, row_number() OVER (
                PARTITION BY d.cid ORDER BY d.d, d.list_id) AS rn
            FROM (SELECT c.cid, k.list_id,
                         sum((c.val - k.cval) * (c.val - k.cval)) AS d
                  FROM comp c JOIN ccent k ON c.i = k.i
                  GROUP BY c.cid, k.list_id) d) WHERE rn = 1),
        rcomp AS (
          SELECT c.cid, a.list_id, CAST(c.i // 16 AS INT) AS sub,
                 CAST(c.i % 16 AS INT) AS ri,
                 c.val - k.cval + 33554432 AS val
          FROM comp c JOIN cassign a ON c.cid = a.cid
          JOIN ccent k ON k.list_id = a.list_id AND k.i = c.i),
        rseed_ids AS (
          SELECT vec_id AS sid FROM embeddings, params
          WHERE vec_id % stride_r = 0 ORDER BY vec_id LIMIT 16),
        rseedc AS (
          SELECT s.sid, r.sub, r.ri, r.val AS sval
          FROM rcomp r JOIN rseed_ids s ON r.cid = s.sid),
        ra0 AS (
          SELECT cid, sub, sid FROM (
            SELECT d.cid, d.sub, d.sid, row_number() OVER (
                PARTITION BY d.cid, d.sub ORDER BY d.d, d.sid) AS rn
            FROM (SELECT r.cid, r.sub, s.sid,
                         sum((r.val - s.sval) * (r.val - s.sval)) AS d
                  FROM rcomp r JOIN rseedc s
                    ON r.sub = s.sub AND r.ri = s.ri
                  GROUP BY r.cid, r.sub, s.sid) d) WHERE rn = 1),
        rcent AS (
          SELECT r.sub, a.sid, r.ri, sum(r.val) // count(*) AS rcval
          FROM rcomp r JOIN ra0 a ON r.cid = a.cid AND r.sub = a.sub
          GROUP BY r.sub, a.sid, r.ri),
        rcodes AS (
          SELECT cid, sub, sid FROM (
            SELECT d.cid, d.sub, d.sid, row_number() OVER (
                PARTITION BY d.cid, d.sub ORDER BY d.d, d.sid) AS rn
            FROM (SELECT r.cid, r.sub, k.sid,
                         sum((r.val - k.rcval) * (r.val - k.rcval)) AS d
                  FROM rcomp r JOIN rcent k
                    ON r.sub = k.sub AND r.ri = k.ri
                  GROUP BY r.cid, r.sub, k.sid) d) WHERE rn = 1),
        qcomp AS (SELECT cid AS qid, i, val FROM comp WHERE cid < 10),
        qlists AS (
          SELECT qid, list_id FROM (
            SELECT d.qid, d.list_id, row_number() OVER (
                PARTITION BY d.qid ORDER BY d.d, d.list_id) AS rn
            FROM (SELECT q.qid, k.list_id,
                         sum((q.val - k.cval) * (q.val - k.cval)) AS d
                  FROM qcomp q JOIN ccent k ON q.i = k.i
                  GROUP BY q.qid, k.list_id) d) WHERE rn <= 4),
        qrcomp AS (
          SELECT q.qid, l.list_id, CAST(q.i // 16 AS INT) AS sub,
                 CAST(q.i % 16 AS INT) AS ri,
                 q.val - k.cval + 33554432 AS qrval
          FROM qcomp q JOIN qlists l ON q.qid = l.qid
          JOIN ccent k ON k.list_id = l.list_id AND k.i = q.i),
        qd AS (
          SELECT q.qid, q.list_id, k.sub, k.sid,
                 sum((q.qrval - k.rcval) * (q.qrval - k.rcval)) AS qdist
          FROM qrcomp q JOIN rcent k ON q.sub = k.sub AND q.ri = k.ri
          GROUP BY q.qid, q.list_id, k.sub, k.sid),
        adc AS (
          SELECT q.qid, x.cid, CAST(sum(q.qdist) AS BIGINT) AS adc
          FROM rcodes x JOIN cassign a ON x.cid = a.cid
          JOIN qd q ON q.list_id = a.list_id AND q.sub = x.sub
                   AND q.sid = x.sid
          GROUP BY q.qid, x.cid HAVING count(*) = 4),
        short AS (
          SELECT qid, cid FROM (
            SELECT qid, cid, row_number() OVER (
                PARTITION BY qid ORDER BY adc ASC, cid ASC) AS arn
            FROM adc WHERE qid != cid) WHERE arn <= 100),
        ex AS (
          SELECT s.qid, s.cid,
                 CAST(sum((qc.val - cc.val) * (qc.val - cc.val)) AS BIGINT)
                   AS dist
          FROM short s JOIN comp cc ON cc.cid = s.cid
          JOIN qcomp qc ON qc.qid = s.qid AND qc.i = cc.i
          GROUP BY s.qid, s.cid)
        SELECT qid AS query_id, cid AS neighbor_id,
               CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY dist ASC, cid ASC) AS INT) AS rank, dist
        FROM ex QUALIFY rank <= 5""")
def q_embed_ivfpq_topk(spark, sf_dir):
    """IVF-PQ composition with exact re-rank (similarity.ivfpq_topk,
    r7 future-work item): a stride-seeded 8-list coarse quantizer
    (one integer-Lloyd step) routes vectors; PQ encodes the residual to
    the list centroid — positive-shifted by 2^25 so the residual Lloyd
    mean stays on the grid where Spark's `div` and DuckDB's `//` agree;
    queries probe their 4 nearest lists and ADC-score CODES only; the
    top-100 shortlist is exactly re-ranked in integer L2 — FAISS's
    IndexIVFPQ+refine shape, bit-replayable end to end. Recall vs exact
    (0.76 measured at sf0.01 — isotropic embeddings are the hard case)
    is floored in tests/test_ann_recall.py."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.ivfpq_topk(emb, emb.filter(F.col("vec_id") < 10),
                          k=5, n_lists=8, n_probe=4, m=4, ks=16, refine=100)


# matryoshka eval: three exact integer-L2 top-5 rankings (full,
# 16-prefix, 32-prefix — truncation is a component filter, the
# positive shift cancels in differences), overlap by left-join count
@gate(oracle="""
        WITH comp AS (
          SELECT vec_id AS cid, CAST(pos - 1 AS INT) AS i,
                 CAST(floor(CAST(e[pos] AS DOUBLE) * 16777216.0) AS BIGINT)
                   + 16777216 AS val
          FROM (SELECT vec_id, embedding AS e FROM embeddings),
               LATERAL (SELECT unnest(generate_series(1, len(e))) AS pos) t),
        qc AS (SELECT cid AS qid, i, val FROM comp WHERE cid < 10),
        ftk AS (
          SELECT qid, cid FROM (
            SELECT d.qid, d.cid, row_number() OVER (
                PARTITION BY d.qid ORDER BY d.dist, d.cid) AS rn
            FROM (SELECT q.qid, c.cid,
                         sum((c.val - q.val) * (c.val - q.val)) AS dist
                  FROM comp c JOIN qc q ON c.i = q.i AND c.cid != q.qid
                  GROUP BY q.qid, c.cid) d) WHERE rn <= 5),
        p16 AS (
          SELECT qid, cid FROM (
            SELECT d.qid, d.cid, row_number() OVER (
                PARTITION BY d.qid ORDER BY d.dist, d.cid) AS rn
            FROM (SELECT q.qid, c.cid,
                         sum((c.val - q.val) * (c.val - q.val)) AS dist
                  FROM comp c JOIN qc q ON c.i = q.i AND c.cid != q.qid
                  WHERE c.i < 16 AND q.i < 16
                  GROUP BY q.qid, c.cid) d) WHERE rn <= 5),
        p32 AS (
          SELECT qid, cid FROM (
            SELECT d.qid, d.cid, row_number() OVER (
                PARTITION BY d.qid ORDER BY d.dist, d.cid) AS rn
            FROM (SELECT q.qid, c.cid,
                         sum((c.val - q.val) * (c.val - q.val)) AS dist
                  FROM comp c JOIN qc q ON c.i = q.i AND c.cid != q.qid
                  WHERE c.i < 32 AND q.i < 32
                  GROUP BY q.qid, c.cid) d) WHERE rn <= 5),
        o16 AS (SELECT f.qid, count(p.cid) AS overlap16
                FROM ftk f LEFT JOIN p16 p
                  ON f.qid = p.qid AND f.cid = p.cid GROUP BY f.qid),
        o32 AS (SELECT f.qid, count(p.cid) AS overlap32
                FROM ftk f LEFT JOIN p32 p
                  ON f.qid = p.qid AND f.cid = p.cid GROUP BY f.qid)
        SELECT o16.qid AS query_id,
               CAST(o16.overlap16 AS BIGINT) AS overlap16,
               CAST(o32.overlap32 AS BIGINT) AS overlap32
        FROM o16 JOIN o32 ON o16.qid = o32.qid""")
def q_embed_matryoshka(spark, sf_dir):
    """Matryoshka truncation evaluation (similarity.matryoshka_overlap,
    r7): per query, |top-5(full 64-dim) ∩ top-5(prefix)| for 16- and
    32-dim prefixes — the measurement you run before shipping truncated
    MRL embeddings. On THESE isotropic synthetic embeddings the prefix
    retrieves almost nothing (mean overlap ~0.3/5 at 16 dims) — the
    honest result: random embeddings have no matryoshka structure, and
    the op exists to MEASURE that before cutting storage 4x. Scoring
    goes through the exploded-components equi-join (PQ re-rank shape,
    no BNLJ); prefix_dim == dim returns exactly k (pinned)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    o16 = (sim.matryoshka_overlap(emb, q, k=5, prefix_dim=16)
           .withColumnRenamed("n_overlap", "overlap16"))
    o32 = (sim.matryoshka_overlap(emb, q, k=5, prefix_dim=32)
           .withColumnRenamed("n_overlap", "overlap32"))
    return o16.join(o32, "query_id")


# Hadamard-rotated PQ: identical pipeline to embed_pq_topk, but the
# components are Walsh-Hadamard-rotated first — H's ±1 entries come
# from bit_count(pos & j) parity, the +2^30 shift precedes the div-8
# orthonormal rescale so `//` (floor) here equals Spark's `div`
# (truncate) on the non-negative operand.
@gate(oracle="""
        WITH params AS (
          SELECT greatest(count(*) // 16, 1) AS stride FROM embeddings),
        rawc AS (
          SELECT vec_id AS cid, CAST(pos - 1 AS INT) AS pos0,
                 CAST(floor(CAST(e[pos] AS DOUBLE) * 16777216.0) AS BIGINT)
                   AS rawval
          FROM (SELECT vec_id, embedding AS e FROM embeddings),
               LATERAL (SELECT unnest(generate_series(1, len(e))) AS pos) t),
        comp AS (
          SELECT cid, CAST(j // 16 AS INT) AS sub, CAST(j % 16 AS INT) AS i,
                 (sum(CASE WHEN bit_count(pos0 & j) % 2 = 1
                      THEN -rawval ELSE rawval END) + 1073741824) // 8 AS val
          FROM rawc, LATERAL (SELECT unnest(range(64)) AS j) tj
          GROUP BY cid, j),
        seed_ids AS (
          SELECT vec_id AS sid FROM embeddings, params
          WHERE vec_id % stride = 0 ORDER BY vec_id LIMIT 16),
        seedc AS (
          SELECT s.sid, c.sub, c.i, c.val AS sval
          FROM comp c JOIN seed_ids s ON c.cid = s.sid),
        a0 AS (
          SELECT cid, sub, sid FROM (
            SELECT d.cid, d.sub, d.sid,
                   row_number() OVER (PARTITION BY d.cid, d.sub
                                      ORDER BY d.d, d.sid) AS rn
            FROM (SELECT c.cid, c.sub, s.sid,
                         sum((c.val - s.sval) * (c.val - s.sval)) AS d
                  FROM comp c JOIN seedc s
                    ON c.sub = s.sub AND c.i = s.i
                  GROUP BY c.cid, c.sub, s.sid) d) WHERE rn = 1),
        cent AS (
          SELECT c.sub, a.sid, c.i, sum(c.val) // count(*) AS cval
          FROM comp c JOIN a0 a ON c.cid = a.cid AND c.sub = a.sub
          GROUP BY c.sub, a.sid, c.i),
        codes AS (
          SELECT cid, sub, sid FROM (
            SELECT d.cid, d.sub, d.sid,
                   row_number() OVER (PARTITION BY d.cid, d.sub
                                      ORDER BY d.d, d.sid) AS rn
            FROM (SELECT c.cid, c.sub, k.sid,
                         sum((c.val - k.cval) * (c.val - k.cval)) AS d
                  FROM comp c JOIN cent k
                    ON c.sub = k.sub AND c.i = k.i
                  GROUP BY c.cid, c.sub, k.sid) d) WHERE rn = 1),
        qd AS (
          SELECT c.cid AS qid, k.sub, k.sid,
                 sum((c.val - k.cval) * (c.val - k.cval)) AS qdist
          FROM comp c JOIN cent k ON c.sub = k.sub AND c.i = k.i
          WHERE c.cid < 10
          GROUP BY c.cid, k.sub, k.sid),
        adc AS (
          SELECT q.qid, x.cid, CAST(sum(q.qdist) AS BIGINT) AS adc
          FROM codes x JOIN qd q ON x.sub = q.sub AND x.sid = q.sid
          GROUP BY q.qid, x.cid
          HAVING count(*) = 4),
        short AS (
          SELECT qid, cid FROM (
            SELECT qid, cid, row_number() OVER (
                PARTITION BY qid ORDER BY adc ASC, cid ASC) AS arn
            FROM adc WHERE qid != cid) WHERE arn <= 100),
        ex AS (
          SELECT s.qid, s.cid,
                 CAST(sum((qc.val - cc.val) * (qc.val - cc.val)) AS BIGINT)
                   AS dist
          FROM short s
          JOIN comp cc ON cc.cid = s.cid
          JOIN comp qc ON qc.cid = s.qid AND qc.sub = cc.sub
                       AND qc.i = cc.i
          GROUP BY s.qid, s.cid)
        SELECT qid AS query_id, cid AS neighbor_id,
               CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY dist ASC, cid ASC) AS INT) AS rank, dist
        FROM ex QUALIFY rank <= 5""")
def q_embed_pq_hadamard(spark, sf_dir):
    """PQ under the deterministic Walsh-Hadamard rotation
    (similarity.pq_topk(rotate='hadamard'), r7) — OPQ's energy-
    spreading preprocessing with a FIXED orthogonal transform:
    H[j][i] = (-1)^popcount(i & j) has ±1 entries, so the rotation is
    exact integer arithmetic (rot + 2^30 keeps the div-8 orthonormal
    rescale on the non-negative grid where the engines' integer
    divisions agree) and the whole codebook/ADC/re-rank pipeline
    replays in SQL via bit_count. Full-refine ranking is pinned equal
    to the UNROTATED exact top-k in tests (the rotation is an isometry
    up to ~1e-6 floor distortion)."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.pq_topk(emb, emb.filter(F.col("vec_id") < 10),
                       k=5, m=4, ks=16, refine=100, rotate="hadamard")
