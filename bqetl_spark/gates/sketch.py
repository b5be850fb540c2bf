"""Sketch gates: HyperLogLog, KMV, count-min, AMS, Bloom filters,
quantile sketches, winsorizing and robust outliers.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bqetl_spark.functions import sketch as sk
from bqetl_spark.functions import text as tx

from bqetl_spark.gates import gate
from bqetl_spark.gates.common import _TOK, _t


# q_kmv_difference replay: both periods' bottom-256 distinct-hash sets
# via row_number (the kmv_distinct idiom), the joint theta (a short
# sketch is exhaustive -> theta = the 2^60 span), the NOT EXISTS
# membership screen below theta, and the same exact-double floor
# arithmetic. Groups come from period A only (left join), matching
# kmv_a_not_b.
_KMV_DIFFERENCE_ORACLE = """
    WITH ha AS (
      SELECT DISTINCT o_orderpriority AS grp,
             ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))
               ::BIGINT AS hv
      FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_custkey IS NOT NULL),
    hb AS (
      SELECT DISTINCT o_orderpriority AS grp,
             ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))
               ::BIGINT AS hv
      FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
        AND o_custkey IS NOT NULL),
    ra AS (SELECT grp, hv, row_number() OVER (PARTITION BY grp
                                              ORDER BY hv) AS rn FROM ha),
    rb AS (SELECT grp, hv, row_number() OVER (PARTITION BY grp
                                              ORDER BY hv) AS rn FROM hb),
    ka AS (SELECT grp, max(CASE WHEN rn = 256 THEN hv END) AS kth_a
           FROM ra GROUP BY grp),
    kb AS (SELECT grp, max(CASE WHEN rn = 256 THEN hv END) AS kth_b
           FROM rb GROUP BY grp),
    th AS (SELECT ka.grp,
                  least(coalesce(kth_a, 1152921504606846976),
                        coalesce(kth_b, 1152921504606846976)) AS th,
                  (kth_a IS NOT NULL OR kth_b IS NOT NULL) AS sat
           FROM ka LEFT JOIN kb ON ka.grp = kb.grp),
    samp AS (SELECT ra.grp, count(*) AS c
             FROM ra JOIN th ON ra.grp = th.grp
             WHERE ra.rn <= 256 AND ra.hv < th.th
               AND NOT EXISTS (SELECT 1 FROM rb
                               WHERE rb.grp = ra.grp AND rb.hv = ra.hv
                                 AND rb.rn <= 256)
             GROUP BY ra.grp)
    SELECT th.grp AS priority,
           CAST(CASE WHEN sat
                THEN floor(coalesce(c, 0) * 1.0 * 1152921504606846976
                           / th)
                ELSE coalesce(c, 0) END AS BIGINT) AS est_a_not_b,
           coalesce(c, 0) AS sample_count
    FROM th LEFT JOIN samp ON th.grp = samp.grp"""


@gate(oracle=_KMV_DIFFERENCE_ORACLE)
def q_kmv_difference(spark, sf_dir):
    """Theta-style KMV set-DIFFERENCE (sketch.kmv_a_not_b, r12): per
    order priority, estimate how many distinct customers placed orders
    from 1997 on who had NEVER ordered before — the incremental-corpus
    accounting query ("new values this period") answered from two
    persisted O(k) sketches without re-scanning either period. The
    a-not-b rule: θ = the stricter k-th order statistic of the two
    sketches; A's hashes below θ are a uniform rate-θ/span sample, so
    the ones absent from B scale by span/θ; when neither sketch
    saturates, the count degenerates to EXACT (the kmv_distinct
    degeneracy — which this gate's sf0.001 groups actually exercise).
    The estimate is bit-reproducible cross-engine: sample_count·2⁶⁰ is
    an exactly-representable double, so the one IEEE division + floor
    round identically (the kmv_distinct argument). Oracle replays both
    bottom-k sets via row_number, the joint θ, the NOT EXISTS
    screening, and the same arithmetic.

    Scale: each corpus is scanned ONCE at sketch-build time (bounded
    mapInPandas state); the difference query itself is a |groups|-row
    join of k-length arrays — pure metadata, the Theta-sketch posture
    that serves warehouse set algebra."""
    orders = _t(spark, sf_dir, "orders")
    cur = orders.filter(F.col("o_orderdate") >= "1997-01-01")
    past = orders.filter(F.col("o_orderdate") < "1997-01-01")
    sk_cur = sk.kmv_sketch(cur, "o_custkey", "o_orderpriority", k=256)
    sk_past = sk.kmv_sketch(past, "o_custkey", "o_orderpriority", k=256)
    return (sk.kmv_a_not_b(sk_cur, sk_past, k=256)
            .select(F.col("grp").alias("priority"),
                    "est_a_not_b", "sample_count"))


# count-min sketch: the 4x128 grid and the min-over-rows estimates
# replay exactly (md5 hash family, integer counters); query values
# are the same fixed literal list
@gate(oracle=r"""
        WITH toks AS (
          SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS v
          FROM documents
        ), grid AS (
          SELECT d, ('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || v),
                                    1, 15))::BIGINT % 128 AS idx,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM toks, (SELECT unnest(range(4)) AS d)
          GROUP BY 1, 2
        ), q AS (
          SELECT unnest(['spark', 'shuffle', 'window', 'data', 'the',
                         'zzz_absent_token']) AS value
        ), cells AS (
          SELECT q.value, d.d,
                 ('0x' || substr(md5(CAST(d.d AS VARCHAR) || ':' ||
                                     q.value), 1, 15))::BIGINT % 128
                   AS idx
          FROM q, (SELECT unnest(range(4)) AS d) d
        ), est AS (
          SELECT c.value,
                 CAST(min(coalesce(g.cnt, 0)) AS BIGINT) AS est
          FROM cells c LEFT JOIN grid g ON c.d = g.d AND c.idx = g.idx
          GROUP BY c.value
        ), exact AS (
          SELECT v AS value, CAST(count(*) AS BIGINT) AS exact_cnt
          FROM toks GROUP BY v
        )
        SELECT e.value, e.est,
               CAST(coalesce(x.exact_cnt, 0) AS BIGINT) AS exact_cnt
        FROM est e LEFT JOIN exact x USING (value)""")
def q_cms_tokens(spark, sf_dir):
    """Count-min sketch token-frequency estimates (functions.sketch.
    cms_sketch/cms_estimate, r7): a 4×128 counter grid over document
    tokens, point estimates for a fixed query list (incl. an absent
    token, whose estimate is pure collision mass) joined with the exact
    counts. md5-derived hash family → the grid AND the estimates replay
    bit-identically in SQL (the KMV treatment); the grid is depth·width
    rows of state regardless of corpus size, and counters ADD under
    union (mergeability pinned in tests)."""
    from bqetl_spark.functions.sketch import cms_estimate, cms_sketch
    from bqetl_spark.functions.text import tokens as _tokens

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(_tokens(F.col("text"))).alias("tok"))
    sk = cms_sketch(toks, "tok", width=128, depth=4)
    queries_list = ["spark", "shuffle", "window", "data", "the",
                    "zzz_absent_token"]
    est = cms_estimate(sk, queries_list, width=128, depth=4)
    exact = (toks.groupBy(F.col("tok").alias("value"))
             .agg(F.count("*").cast("long").alias("exact_cnt")))
    return (est.join(exact, "value", "left")
            .select("value", "est",
                    F.coalesce("exact_cnt", F.lit(0)).cast("long")
                    .alias("exact_cnt")))


# AMS F2: 40 md5-signed sums replayed in HUGEINT; lower median of 5
# group means (list_sort is 1-based in DuckDB: [3])
_ams_s = ", ".join(
    f"SUM((1 - 2 * (('0x' || substr(md5('{j}:' || v), 1, 1))::INT % 2))"
    f" * c) AS s{j}" for j in range(40))
_ams_m = ", ".join(
    "(" + " + ".join(f"s{g * 8 + i}::HUGEINT * s{g * 8 + i}"
                     for i in range(8)) + f") // 8 AS m{g}"
    for g in range(5))


@gate(oracle=f"""
        WITH tok AS (
            SELECT lang, unnest({_TOK}) AS v
            FROM documents WHERE trim(text) != ''),
        cnt AS (SELECT lang, v, count(*) AS c FROM tok GROUP BY lang, v),
        agg AS (
            SELECT lang, SUM(c::HUGEINT * c) AS f2, {_ams_s}
            FROM cnt GROUP BY lang),
        med AS (
            SELECT lang, f2, list_sort([m0, m1, m2, m3, m4])[3] AS est
            FROM (SELECT lang, f2, {_ams_m} FROM agg) g)
        SELECT lang, CAST(f2 AS BIGINT) AS f2_exact,
               CAST(est AS BIGINT) AS f2_est,
               CAST(abs(est - f2) * 1000000 // f2 AS BIGINT) AS err_ppm
        FROM med""")
def q_ams_f2(spark, sf_dir):
    """AMS tug-of-war F₂ sketch (functions.sketch.ams_f2, r10): per-lang
    self-join size of the token stream — 40 md5-signed sums, means over
    8, lower median over 5 groups, all exact integer arithmetic, PLUS
    the exact F₂ and the integer ppm error. The oracle replays sketch
    AND exact side in HUGEINT, so the hash-match certifies the
    estimator itself, not just a bound. One data-sized shuffle (the
    (lang, token) count); sketch state is 40 longs per lang —
    mergeable by addition across batches."""
    docs = _t(spark, sf_dir, "documents")
    tok = (docs.filter(F.trim(F.col("text")) != "")
           .select("lang", F.explode(tx.tokens(F.col("text")))
                   .alias("tok")))
    return sk.ams_f2(tok, "tok", "lang", groups=5, per_group=8)


@gate(oracle=f"""
        WITH toks AS (
            SELECT unnest({_TOK}) AS tok
            FROM documents WHERE trim(text) != ''),
        tot AS (SELECT count(*) AS n FROM toks)
        SELECT tok, CAST(count(*) AS BIGINT) AS n_occurrences
        FROM toks, tot
        GROUP BY tok, tot.n
        HAVING count(*) * 50 > tot.n""")
def q_heavy_tokens(spark, sf_dir):
    """Sketch-accelerated EXACT heavy hitters: per-partition Misra-Gries
    candidates (≤ k counters per partition cross the wire, not one row per
    distinct token) + exact recount over candidates only
    (functions.sketch.heavy_hitter_tokens). Deterministic by the coverage
    proof, so the oracle is the plain HAVING count > n/k group-by."""
    from bqetl_spark.functions.sketch import heavy_hitter_tokens

    docs = _t(spark, sf_dir, "documents")
    return heavy_hitter_tokens(docs, k=50)


# KMV distinct sketch: the ESTIMATE itself is replayed — k-th order
# statistic of the 60-bit md5-prefix hashes per group. 255 * 2^60 is
# exactly representable in a double (8-bit mantissa, trailing zeros),
# so floor(255·2^60 / kth) is one correctly-rounded IEEE division on
# both engines.
_KMV_DISTINCT_ORACLE = f"""
        WITH tok AS (
            SELECT lang, unnest({_TOK}) AS tok
            FROM documents WHERE trim(text) != ''),
        h AS (
            SELECT DISTINCT lang,
                   ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv
            FROM tok),
        r AS (
            SELECT lang, hv,
                   row_number() OVER (PARTITION BY lang ORDER BY hv) AS rn
            FROM h)
        SELECT lang,
               CAST(CASE WHEN max(rn) < 256 THEN max(rn)
                    ELSE floor(255.0 * 1152921504606846976
                               / max(CASE WHEN rn = 256 THEN hv END))
                    END AS BIGINT) AS est_distinct,
               CASE WHEN max(rn) < 256 THEN NULL
                    ELSE max(CASE WHEN rn = 256 THEN hv END)
                    END AS kth_hash
        FROM r GROUP BY lang"""


@gate(oracle=_KMV_DISTINCT_ORACLE)
def q_kmv_distinct(spark, sf_dir):
    """Per-language distinct-token estimate via the K-minimum-values
    sketch (functions.sketch.kmv_distinct, k=256) — bounded-state distinct
    counting whose ESTIMATE (not just its error bound) is deterministic,
    because the hash is md5-derived and the estimate arithmetic is one
    IEEE-exact division. The oracle replays the same k-th-order-statistic
    formula over the same 60-bit hashes in DuckDB."""
    docs = _t(spark, sf_dir, "documents")
    tok = (docs.filter(F.trim(F.col("text")) != "")
           .select("lang", F.explode(tx.tokens(F.col("text"))).alias("tok")))
    return sk.kmv_distinct(tok, "tok", "lang", k=256)


# mergeability: the incremental (split-sketch-merge) gate must equal
# the plain full-corpus sketch — same SQL
@gate(oracle=_KMV_DISTINCT_ORACLE)
def q_kmv_incremental(spark, sf_dir):
    """Sketch MERGEABILITY gate: sketch the odd-id and even-id halves of
    the corpus separately, kmv_merge them, estimate — the oracle is the
    PLAIN full-corpus KMV, so the hash-match proves
    merge(sketch(A), sketch(B)) == sketch(A ∪ B) exactly (the property
    that lets a daily pipeline fold new batches into a stored sketch
    without re-scanning history)."""
    docs = _t(spark, sf_dir, "documents")
    tok = (docs.filter(F.trim(F.col("text")) != "")
           .select("lang", "doc_id",
                   F.explode(tx.tokens(F.col("text"))).alias("tok")))
    a = sk.kmv_sketch(tok.filter(F.col("doc_id") % 2 == 1), "tok", "lang",
                      k=256)
    b = sk.kmv_sketch(tok.filter(F.col("doc_id") % 2 == 0), "tok", "lang",
                      k=256)
    return sk.kmv_estimate(sk.kmv_merge(a, b, k=256), "lang", 256)


# quantile_incremental (r8): oracle = the FULL-data bottom-k
# estimate over events.value — the Spark side folds two half
# sketches, so the hash-match certifies exact mergeability
_QUANTILE_INCREMENTAL_ORACLE = """
        WITH s0 AS (
            SELECT value AS v,
                   ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))
                     ::BIGINT AS hv
            FROM events WHERE value IS NOT NULL),
        s AS (SELECT v, hv FROM s0 ORDER BY hv LIMIT 1024),
        ranked AS (
            SELECT v, hv, row_number() OVER (ORDER BY v, hv) AS rv,
                   count(*) OVER () AS n
            FROM s)
        SELECT CAST(t.q AS DOUBLE) AS q, r.v AS value,
               CAST(r.n AS BIGINT) AS n_sample
        FROM ranked r
        JOIN (VALUES (0.5::DOUBLE), (0.9::DOUBLE), (0.99::DOUBLE)) AS t(q)
          ON r.rv = CAST(floor(t.q * (r.n - 1)) AS BIGINT) + 1"""


@gate(oracle=_QUANTILE_INCREMENTAL_ORACLE)
def q_quantile_incremental(spark, sf_dir):
    """Quantile-sketch MERGEABILITY gate (sketch.quantile_sketch /
    quantile_sketch_merge / quantiles_from_sketch, r8): sketch the
    odd- and even-event_id halves of events.value separately (bottom-k
    min-hash priority samples, k=1024), merge, estimate p50/p90/p99 —
    the oracle is the PLAIN full-corpus bottom-k estimate, so the
    hash-match proves merge(sketch(A), sketch(B)) == sketch(A ∪ B)
    EXACTLY (min-wise sampling commutes with union), the property that
    lets a daily pipeline fold new batches into a stored quantile
    sample without re-scanning history. Completes the persisted-sketch
    family: KMV, CMS, HLL, bloom, and now quantiles."""
    ev = _t(spark, sf_dir, "events")
    a = sk.quantile_sketch(ev.filter(F.pmod(F.col("event_id"), F.lit(2)) == 1),
                           "value", F.col("event_id"), k=1024)
    b = sk.quantile_sketch(ev.filter(F.pmod(F.col("event_id"), F.lit(2)) == 0),
                           "value", F.col("event_id"), k=1024)
    return sk.quantiles_from_sketch(
        sk.quantile_sketch_merge(a, b, k=1024), qs=(0.5, 0.9, 0.99))


# quantile sketch: deterministic smallest-md5 sample + integer ranks
@gate(oracle="""
        WITH s0 AS (
            SELECT l_extendedprice AS v,
                   ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '_'
                        || CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT
                     AS hv
            FROM lineitem),
        s AS (SELECT v, hv FROM s0 ORDER BY hv LIMIT 1024),
        ranked AS (
            SELECT v, hv, row_number() OVER (ORDER BY v, hv) AS rv,
                   count(*) OVER () AS n
            FROM s)
        SELECT CAST(t.q AS DOUBLE) AS q, r.v AS value,
               CAST(r.n AS BIGINT) AS n_sample
        FROM ranked r
        JOIN (VALUES (0.5::DOUBLE), (0.9::DOUBLE), (0.99::DOUBLE)) AS t(q)
          ON r.rv = CAST(floor(t.q * (r.n - 1)) AS BIGINT) + 1""")
def q_sampled_quantiles(spark, sf_dir):
    """Bounded-state quantile sketch (functions.sketch.sampled_quantiles):
    p50/p90/p99 of lineitem extended price from the k=1024 smallest-md5
    sample — deterministic sample, integer rank arithmetic, so the
    ESTIMATE itself replays in SQL."""
    li = _t(spark, sf_dir, "lineitem")
    return sk.sampled_quantiles(
        li, "l_extendedprice",
        F.concat_ws("_", "l_orderkey", "l_linenumber"),
        qs=(0.5, 0.9, 0.99), k=1024)


# percentile band: same sample/rank machinery as sampled_quantiles,
# thresholds at q=0.05/0.95 over n_chars, inclusive row filter
@gate(oracle="""
        WITH s0 AS (
            SELECT n_chars AS v,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                     ::BIGINT AS hv
            FROM documents),
        s AS (SELECT v, hv FROM s0 ORDER BY hv LIMIT 1024),
        ranked AS (
            SELECT v, hv, row_number() OVER (ORDER BY v, hv) AS rv,
                   count(*) OVER () AS n
            FROM s),
        thr AS (
            SELECT max(CASE WHEN t.q = 0.05 THEN r.v END) AS lo,
                   max(CASE WHEN t.q = 0.95 THEN r.v END) AS hi
            FROM ranked r
            JOIN (VALUES (0.05::DOUBLE), (0.95::DOUBLE)) AS t(q)
              ON r.rv = CAST(floor(t.q * (r.n - 1)) AS BIGINT) + 1)
        SELECT d.doc_id, d.n_chars
        FROM documents d, thr
        WHERE d.n_chars >= thr.lo AND d.n_chars <= thr.hi""")
def q_percentile_band(spark, sf_dir):
    """Percentile-band tail pruning (functions.sketch.
    percentile_band_filter): keep documents in the [p05, p95] band of
    n_chars — the distribution trim before training. Thresholds come
    from the deterministic quantile SKETCH (never a global sort), so the
    membership is exact-oracle-able: the SQL replays the k-smallest-md5
    sample, the integer rank thresholds, and the same inclusive filter."""
    docs = _t(spark, sf_dir, "documents")
    return (sk.percentile_band_filter(docs, "n_chars", F.col("doc_id"),
                                      lo=0.05, hi=0.95, k=1024)
            .select("doc_id", "n_chars"))


# winsorize: percentile_band's threshold CTE over events.value,
# CASE-capped projection (raw doubles pass through bit-identical)
@gate(oracle="""
        WITH s0 AS (
            SELECT value AS v,
                   ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))
                     ::BIGINT AS hv
            FROM events),
        s AS (SELECT v, hv FROM s0 ORDER BY hv LIMIT 1024),
        ranked AS (
            SELECT v, hv, row_number() OVER (ORDER BY v, hv) AS rv,
                   count(*) OVER () AS n
            FROM s),
        thr AS (
            SELECT max(CASE WHEN t.q = 0.05 THEN r.v END) AS lo,
                   max(CASE WHEN t.q = 0.95 THEN r.v END) AS hi
            FROM ranked r
            JOIN (VALUES (0.05::DOUBLE), (0.95::DOUBLE)) AS t(q)
              ON r.rv = CAST(floor(t.q * (r.n - 1)) AS BIGINT) + 1)
        SELECT e.event_id, e.value,
               CASE WHEN e.value < thr.lo THEN thr.lo
                    WHEN e.value > thr.hi THEN thr.hi
                    ELSE e.value END AS value_w
        FROM events e, thr""")
def q_winsorize(spark, sf_dir):
    """Winsorization (functions.sketch.winsorize, r7): event values
    capped at the [p05, p95] thresholds from the deterministic quantile
    sketch — the keep-the-row tail treatment completing the outlier
    family (detect = robust_outliers, drop = percentile_band, cap =
    winsorize). Thresholds are a 2-value metadata collect off the
    TakeOrdered(k) sample; the capping is a row-local projection."""
    from bqetl_spark.functions.sketch import winsorize

    ev = _t(spark, sf_dir, "events")
    return (winsorize(ev, "value", F.col("event_id"),
                      lo=0.05, hi=0.95, k=1024)
            .select("event_id", "value", "value_w"))


# robust outliers: lower-median selections + exact BIGINT cents
# (round(value*100) to NEAREST: ~0.5 decision margin on cent-like
# doubles, tie-convention-independent — no DECIMAL rounding-mode
# dependence, r8) — (n+1)//2 equals Spark's div on positive counts
@gate(oracle="""
        WITH base AS (
          SELECT user_id AS k,
                 CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS v,
                 event_id AS t
          FROM events WHERE value IS NOT NULL),
        med AS (
          SELECT k, v AS med FROM (
            SELECT k, v, count(*) OVER (PARTITION BY k) AS n,
                   row_number() OVER (PARTITION BY k ORDER BY v, t) AS r
            FROM base) WHERE r = (n + 1) // 2),
        dev AS (
          SELECT b.k, b.v, b.t, abs(b.v - m.med) AS d, m.med
          FROM base b JOIN med m ON b.k = m.k),
        mad AS (
          SELECT k, d AS mad FROM (
            SELECT k, d, count(*) OVER (PARTITION BY k) AS n,
                   row_number() OVER (PARTITION BY k
                                      ORDER BY d, v, t) AS r
            FROM dev) WHERE r = (n + 1) // 2),
        fl AS (
          SELECT dev.k, dev.med, mad.mad,
                 CASE WHEN dev.d > 3 * mad.mad THEN 1 ELSE 0 END AS o
          FROM dev JOIN mad ON dev.k = mad.k)
        SELECT k AS user_id, CAST(count(*) AS BIGINT) AS n_events,
               max(med) AS median_cents, max(mad) AS mad_cents,
               CAST(sum(o) AS BIGINT) AS n_outliers
        FROM fl GROUP BY k""")
def q_robust_outliers(spark, sf_dir):
    """Robust per-user outlier screen (functions.stats.robust_outliers,
    r8 integerized): |x − median| > 3·MAD with median and MAD as LOWER
    medians (position-selected order statistics — deterministic for any
    tie order because selection depends only on the multiset). Values
    integerized to cents — CAST(round(value·100) AS BIGINT), nearest
    integer, whose decision margin to the half-integer boundary is
    ~0.5 on cent-like data (floor would sit 1e-15 from the boundary —
    the margin audit rejected it); r7's driver hash miss traced to the
    old double→DECIMAL(18,2) cast's rounding convention, removed
    entirely. EXACT BIGINT arithmetic end to end (margins audited in
    tests/test_oracle_margins.py). Two window passes + two per-group
    median joins."""
    from bqetl_spark.functions.stats import robust_outliers

    ev = _t(spark, sf_dir, "events")
    return robust_outliers(ev, "value", "user_id", "event_id", k=3)


# CMS join-size: min over depth rows of the grid inner products,
# re-anchored on the depth spine so zero-overlap rows count
@gate(oracle="""
        WITH seg AS (
            SELECT c_custkey FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            WHERE n_name = 'NATION_7'),
        ga AS (
            SELECT d, ('0x' || substr(md5(CAST(d AS VARCHAR) || ':'
                                          || o_custkey), 1, 15))::BIGINT
                       % 256 AS idx,
                   count(*) AS ca
            FROM orders, (SELECT unnest(range(4)) AS d)
            GROUP BY 1, 2),
        gb AS (
            SELECT d, ('0x' || substr(md5(CAST(d AS VARCHAR) || ':'
                                          || c_custkey), 1, 15))::BIGINT
                       % 256 AS idx,
                   count(*) AS cb
            FROM seg, (SELECT unnest(range(4)) AS d)
            GROUP BY 1, 2),
        dots AS (
            SELECT ga.d, SUM(ga.ca::HUGEINT * gb.cb) AS dot
            FROM ga JOIN gb ON ga.d = gb.d AND ga.idx = gb.idx
            GROUP BY ga.d),
        est AS (
            SELECT MIN(COALESCE(dots.dot, 0)) AS e
            FROM (SELECT unnest(range(4)) AS d) u
            LEFT JOIN dots ON u.d = dots.d),
        exact AS (
            SELECT count(*) AS x
            FROM orders JOIN seg ON o_custkey = c_custkey)
        SELECT CAST(e AS BIGINT) AS join_size_est,
               CAST(x AS BIGINT) AS join_size_exact
        FROM est CROSS JOIN exact""")
def q_cms_join_size(spark, sf_dir):
    """CMS join-cardinality estimation (functions.sketch.cms_join_size,
    r10): size |orders ⋈ NATION_7-customers| on custkey from two
    depth×width sketches — min over depth rows of the grid inner
    products, re-anchored on a literal depth spine so zero-overlap
    rows count (the estimator is an upper bound; dropping them would
    inflate it). Published next to the exact join count, so the
    hash-match certifies the estimator value AND the est ≥ exact
    property is visible in the row itself."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    seg = (customer.join(nation,
                         F.col("c_nationkey") == F.col("n_nationkey"))
           .filter(F.col("n_name") == "NATION_7").select("c_custkey"))
    sk_a = sk.cms_sketch(orders.select("o_custkey"), "o_custkey")
    sk_b = sk.cms_sketch(seg, "c_custkey")
    est = sk.cms_join_size(sk_a, sk_b)
    exact = (orders.join(seg, F.col("o_custkey") == F.col("c_custkey"))
             .agg(F.count("*").cast("long").alias("join_size_exact")))
    return est.crossJoin(exact)


# sliding HLL: hourly registers exploded to their trailing windows
# and re-MAXed — merge ≡ union-sketch makes the frame reuse exact;
# estimate CASE is the hll_distinct formula verbatim
@gate(oracle=f"""
        WITH h AS (
          SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP)))
                      AS BIGINT) AS hr,
                 ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                   ::BIGINT AS hv
          FROM events WHERE user_id IS NOT NULL),
        rr AS (
          SELECT hr, (hv >> 52)::INT AS bucket,
                 CAST(CASE WHEN (hv & ((1::BIGINT << 52) - 1)) = 0 THEN 53
                      ELSE 53 - length(bin(hv & ((1::BIGINT << 52) - 1)))
                      END AS INT) AS rho
          FROM h),
        hourly AS (SELECT hr, bucket, max(rho) AS max_rho
                   FROM rr GROUP BY hr, bucket),
        present AS (SELECT DISTINCT hr AS win_end FROM hourly),
        contrib AS (
          SELECT hourly.hr + 3600 * o.off AS win_end, bucket, max_rho
          FROM hourly, (SELECT unnest(range(3)) AS off) o),
        reg AS (
          SELECT c.win_end, c.bucket, max(c.max_rho) AS max_rho
          FROM contrib c JOIN present p ON c.win_end = p.win_end
          GROUP BY c.win_end, c.bucket),
        agg AS (
          SELECT win_end, CAST(count(*) AS INT) AS n_buckets,
                 sum((1::BIGINT << (53 - max_rho))) AS pow_sum
          FROM reg GROUP BY win_end),
        e AS (
          SELECT win_end, n_buckets,
                 CAST(CASE WHEN n_buckets < 256 AND raw <= 640
                      THEN lc ELSE raw END AS BIGINT) AS est
          FROM (SELECT win_end, n_buckets,
                       CAST({sk.HLL_RAW_NUM} AS HUGEINT)
                         // (CAST(1000000 AS HUGEINT) *
                             ((256 - n_buckets)::HUGEINT
                              * (1::BIGINT << 53) + pow_sum)) AS raw,
                       (CAST(256 AS BIGINT) *
                        CAST(floor(1000000 * ln(256.0 / (256 - n_buckets)))
                             AS BIGINT)) // 1000000 AS lc
                FROM agg) t),
        pairs AS (
          SELECT DISTINCT
                 CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP)))
                      AS BIGINT) AS hr, user_id AS v
          FROM events),
        exact AS (
          SELECT c.win_end, CAST(count(DISTINCT c.v) AS BIGINT) AS exact_cnt
          FROM (SELECT pairs.hr + 3600 * o.off AS win_end, v
                FROM pairs, (SELECT unnest(range(3)) AS off) o) c
          JOIN (SELECT DISTINCT hr AS win_end FROM pairs) p
            ON c.win_end = p.win_end
          GROUP BY c.win_end)
        SELECT e.win_end, e.n_buckets, e.est, exact.exact_cnt
        FROM e JOIN exact ON e.win_end = exact.win_end""")
def q_hll_sliding(spark, sf_dir):
    """Sliding-window distinct users from hourly HLL sketches
    (functions.sketch.hll_sliding_estimate, r7): per hour, the
    estimated distinct user_id over the trailing 3 hours — each hourly
    sketch built once and re-MAXed into its 3 target windows via an
    offset explode (map-only; no range join), the frame-reuse trick
    mergeability buys. Joined with the exact trailing distinct counts
    (computed by the same offset-explode on distinct (hour, user)
    pairs — affordable at sf0.01, the thing the sketch REPLACES at
    100 TB)."""
    ev = _t(spark, sf_dir, "events")
    est = sk.hll_sliding_estimate(ev, "user_id", "ts", trailing=3)
    hr = F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hr")
    pairs = ev.select(hr, F.col("user_id").alias("v")).distinct()
    offs = F.explode(F.lit([3600 * i for i in range(3)])).alias("off")
    contrib = (pairs.select("hr", "v", offs)
               .select((F.col("hr") + F.col("off")).alias("win_end"), "v"))
    present = pairs.select(F.col("hr").alias("win_end")).distinct()
    exact = (contrib.join(F.broadcast(present), "win_end")
             .groupBy("win_end")
             .agg(F.countDistinct("v").cast("long").alias("exact_cnt")))
    return est.join(exact, "win_end")


# HLL intersection: three estimator replays tagged a/b/u — the 'u'
# registers come from the ROW union while Spark merges the two
# sketches, so the hash-match proves merge ≡ union-sketch; the
# estimate CASE is the hll_distinct formula verbatim.
@gate(oracle=f"""
        WITH rows_ AS (
          SELECT CAST(year(o_orderdate) AS INT) AS yr, o_custkey,
                 o_orderpriority AS pr
          FROM orders
          WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')),
        tagged AS (
          SELECT 'a' AS s, yr, o_custkey FROM rows_ WHERE pr = '1-URGENT'
          UNION ALL
          SELECT 'b' AS s, yr, o_custkey FROM rows_ WHERE pr = '2-HIGH'
          UNION ALL
          SELECT 'u' AS s, yr, o_custkey FROM rows_),
        h AS (
          SELECT s, yr,
                 ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))
                   ::BIGINT AS hv
          FROM tagged WHERE o_custkey IS NOT NULL),
        rr AS (
          SELECT s, yr, (hv >> 52)::INT AS bucket,
                 CAST(CASE WHEN (hv & ((1::BIGINT << 52) - 1)) = 0 THEN 53
                      ELSE 53 - length(bin(hv & ((1::BIGINT << 52) - 1)))
                      END AS INT) AS rho
          FROM h),
        reg AS (SELECT s, yr, bucket, max(rho) AS max_rho
                FROM rr GROUP BY s, yr, bucket),
        agg AS (
          SELECT s, yr, CAST(count(*) AS INT) AS n_buckets,
                 sum((1::BIGINT << (53 - max_rho))) AS pow_sum
          FROM reg GROUP BY s, yr),
        e AS (
          SELECT s, yr,
                 CAST(CASE WHEN n_buckets < 256 AND raw <= 640
                      THEN lc ELSE raw END AS BIGINT) AS est
          FROM (SELECT s, yr, n_buckets,
                       CAST({sk.HLL_RAW_NUM} AS HUGEINT)
                         // (CAST(1000000 AS HUGEINT) *
                             ((256 - n_buckets)::HUGEINT
                              * (1::BIGINT << 53) + pow_sum)) AS raw,
                       (CAST(256 AS BIGINT) *
                        CAST(floor(1000000 * ln(256.0 / (256 - n_buckets)))
                             AS BIGINT)) // 1000000 AS lc
                FROM agg) t),
        p AS (
          SELECT yr,
                 max(CASE WHEN s = 'a' THEN est END) AS est_a0,
                 max(CASE WHEN s = 'b' THEN est END) AS est_b0,
                 max(CASE WHEN s = 'u' THEN est END) AS est_union
          FROM e GROUP BY yr),
        est AS (
          SELECT yr, CAST(coalesce(est_a0, 0) AS BIGINT) AS est_a,
                 CAST(coalesce(est_b0, 0) AS BIGINT) AS est_b,
                 CAST(est_union AS BIGINT) AS est_union,
                 CAST(greatest(0, coalesce(est_a0, 0) + coalesce(est_b0, 0)
                               - est_union) AS BIGINT) AS est_intersect
          FROM p),
        exact AS (
          SELECT yr, CAST(count(*) AS BIGINT) AS exact_cnt FROM (
            SELECT yr, o_custkey FROM rows_ GROUP BY yr, o_custkey
            HAVING max(CASE WHEN pr = '1-URGENT' THEN 1 ELSE 0 END) = 1
               AND max(CASE WHEN pr = '2-HIGH' THEN 1 ELSE 0 END) = 1) t
          GROUP BY yr)
        SELECT est.yr, est.est_a, est.est_b, est.est_union,
               est.est_intersect,
               CAST(coalesce(exact.exact_cnt, 0) AS BIGINT) AS exact_cnt
        FROM est LEFT JOIN exact ON est.yr = exact.yr""")
def q_hll_intersect(spark, sf_dir):
    """Distinct-set OVERLAP from sketches (functions.sketch.
    hll_intersect_estimate, r7): per order-year, how many customers
    placed both an URGENT and a HIGH order — est(A) + est(B) −
    est(A ∪ B), where the union estimate reads hll_merge(a, b). The
    oracle computes the union registers from the ROW-level union
    directly, so the hash-match certifies merge ≡ union-sketch on real
    data (the property that makes cross-corpus overlap a 256-row
    problem at 100 TB). Joined with the exact intersection counts."""
    orders = _t(spark, sf_dir, "orders")
    base = orders.select(
        F.year("o_orderdate").cast("int").alias("yr"),
        "o_custkey", "o_orderpriority")
    a = sk.hll_sketch(base.filter(F.col("o_orderpriority") == "1-URGENT"),
                      "o_custkey", "yr")
    b = sk.hll_sketch(base.filter(F.col("o_orderpriority") == "2-HIGH"),
                      "o_custkey", "yr")
    est = sk.hll_intersect_estimate(a, b, "yr")
    exact = (base.filter(F.col("o_orderpriority")
                         .isin("1-URGENT", "2-HIGH"))
             .groupBy("yr", "o_custkey")
             .agg(F.max((F.col("o_orderpriority") == "1-URGENT")
                        .cast("int")).alias("ua"),
                  F.max((F.col("o_orderpriority") == "2-HIGH")
                        .cast("int")).alias("ub"))
             .filter((F.col("ua") == 1) & (F.col("ub") == 1))
             .groupBy("yr")
             .agg(F.count("*").cast("long").alias("exact_cnt")))
    return (est.join(exact, "yr", "left")
            .na.fill(0, ["exact_cnt"]))


# HLL++ sparse: sparse pairs at p'=14 drive linear counting; the
# DENSE side is computed directly from the hashes here while the
# Spark side only downconverts sparse pairs — the hash-match IS the
# mode-switch identity proof. Both ln domains are margin-audited.
@gate(oracle=f"""
        WITH h AS (
          SELECT c_nationkey AS g,
                 ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))
                   ::BIGINT AS hv
          FROM customer WHERE c_custkey IS NOT NULL),
        sp AS (
          SELECT g, (hv >> 46)::INT AS idx,
                 CAST(CASE WHEN (hv & ((1::BIGINT << 46) - 1)) = 0 THEN 47
                      ELSE 47 - length(bin(hv & ((1::BIGINT << 46) - 1)))
                      END AS INT) AS rho
          FROM h),
        pairs AS (SELECT g, idx, max(rho) AS max_rho FROM sp GROUP BY g, idx),
        np AS (SELECT g, CAST(count(*) AS INT) AS n_pairs
               FROM pairs GROUP BY g),
        rr AS (
          SELECT g, (hv >> 52)::INT AS bucket,
                 CAST(CASE WHEN (hv & ((1::BIGINT << 52) - 1)) = 0 THEN 53
                      ELSE 53 - length(bin(hv & ((1::BIGINT << 52) - 1)))
                      END AS INT) AS rho
          FROM h),
        reg AS (SELECT g, bucket, max(rho) AS max_rho FROM rr GROUP BY g, bucket),
        agg AS (
          SELECT g, CAST(count(*) AS INT) AS n_buckets,
                 sum((1::BIGINT << (53 - max_rho))) AS pow_sum
          FROM reg GROUP BY g),
        de AS (
          SELECT g, n_buckets,
                 CAST({sk.HLL_RAW_NUM} AS HUGEINT)
                   // (CAST(1000000 AS HUGEINT) *
                       ((256 - n_buckets)::HUGEINT * (1::BIGINT << 53)
                        + pow_sum)) AS raw,
                 (CAST(256 AS BIGINT) *
                  CAST(floor(1000000 * ln(256.0 / (256 - n_buckets)))
                       AS BIGINT)) // 1000000 AS lc
          FROM agg),
        dest AS (
          SELECT g, CAST(CASE WHEN n_buckets < 256 AND raw <= 640
                         THEN lc ELSE raw END AS BIGINT) AS est_dense
          FROM de),
        spest AS (
          SELECT np.g, np.n_pairs,
                 CAST(CASE WHEN np.n_pairs < 16384
                      THEN (CAST(16384 AS BIGINT) *
                            CAST(floor(1000000 *
                                 ln(16384.0 / (16384 - np.n_pairs)))
                                 AS BIGINT)) // 1000000
                      ELSE dest.est_dense END AS BIGINT) AS est_sparse
          FROM np JOIN dest ON np.g = dest.g),
        exact AS (
          SELECT c_nationkey AS g,
                 CAST(count(DISTINCT c_custkey) AS BIGINT) AS exact_cnt
          FROM customer GROUP BY 1)
        SELECT spest.g AS c_nationkey, spest.n_pairs, spest.est_sparse,
               dest.est_dense, exact.exact_cnt
        FROM spest JOIN dest ON spest.g = dest.g
        JOIN exact ON spest.g = exact.g""")
def q_hll_sparse(spark, sf_dir):
    """HLL++ sparse representation (functions.sketch.hll_sparse_*, r7,
    Heule et al. §5.3): per-nation distinct-customer estimates from
    p'=14 (idx, rho) pairs — linear counting at the sparse precision is
    ~27x tighter than the dense p=8 estimator on these cardinalities
    (0.13% vs 3.5% mean rel err). est_dense is computed ONLY via the
    exact sparse->dense downconversion (bucket = idx >> 6, the 6 low idx
    bits become the top of the dense rho field), while the oracle builds
    the dense registers straight from the hashes — so a hash-match
    certifies the HLL++ mode-switch identity on real data, not just in
    unit tests. ln margins for BOTH precisions are audited over their
    full domains in tests/test_sketch_hll_bloom.py."""
    cust = _t(spark, sf_dir, "customer")
    sp = sk.hll_sparse_sketch(cust, "c_custkey", "c_nationkey")
    est_sp = (sk.hll_sparse_estimate(sp, "c_nationkey")
              .withColumnRenamed("est", "est_sparse"))
    est_de = (sk.hll_estimate(sk.hll_sparse_to_dense(sp), "c_nationkey")
              .select("c_nationkey", F.col("est").alias("est_dense")))
    exact = (cust.groupBy("c_nationkey")
             .agg(F.countDistinct("c_custkey").cast("long")
                  .alias("exact_cnt")))
    return est_sp.join(est_de, "c_nationkey").join(exact, "c_nationkey")


# HyperLogLog: registers (md5 60-bit hash, top-8-bit bucket,
# bin()-length rho — minimal-binary parity probed) and the
# integerized harmonic-mean estimate replay exactly; HUGEINT //
# ≡ Spark DECIMAL(38,0) div (probed). The linear-counting branch's
# ln has only 255 possible arguments, all margin-audited in pytest.
@gate(oracle=f"""
        WITH h AS (
          SELECT l_returnflag AS g,
                 ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))
                   ::BIGINT AS hv
          FROM lineitem WHERE l_orderkey IS NOT NULL),
        rr AS (
          SELECT g, (hv >> 52)::INT AS bucket,
                 CAST(CASE WHEN (hv & ((1::BIGINT << 52) - 1)) = 0 THEN 53
                      ELSE 53 - length(bin(hv & ((1::BIGINT << 52) - 1)))
                      END AS INT) AS rho
          FROM h),
        reg AS (SELECT g, bucket, max(rho) AS max_rho
                FROM rr GROUP BY g, bucket),
        agg AS (
          SELECT g, CAST(count(*) AS INT) AS n_buckets,
                 sum((1::BIGINT << (53 - max_rho))) AS pow_sum
          FROM reg GROUP BY g),
        e AS (
          SELECT g, n_buckets,
                 CAST({sk.HLL_RAW_NUM} AS HUGEINT)
                   // (CAST(1000000 AS HUGEINT) *
                       ((256 - n_buckets)::HUGEINT * (1::BIGINT << 53)
                        + pow_sum)) AS raw,
                 (CAST(256 AS BIGINT) *
                  CAST(floor(1000000 * ln(256.0 / (256 - n_buckets)))
                       AS BIGINT)) // 1000000 AS lc
          FROM agg),
        exact AS (
          SELECT l_returnflag AS g,
                 CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_cnt
          FROM lineitem GROUP BY 1)
        SELECT e.g AS l_returnflag, e.n_buckets,
               CAST(CASE WHEN e.n_buckets < 256 AND e.raw <= 640
                    THEN e.lc ELSE e.raw END AS BIGINT) AS est,
               exact.exact_cnt
        FROM e JOIN exact USING (g)""")
def q_hll_distinct(spark, sf_dir):
    """Per-returnflag distinct-orderkey estimate via HyperLogLog
    (functions.sketch.hll_sketch/hll_estimate, r7) — the canonical
    mergeable cardinality sketch (what warehouses expose as
    approx_count_distinct), joined with the exact distinct counts. The
    md5 hash family and bin()-length rho (minimal-binary parity probed
    across engines) make the 256 registers AND the integerized harmonic-
    mean estimate bit-replayable in SQL; registers MAX under union
    (mergeability pinned in tests like kmv_incremental). State is 256
    small ints per group regardless of corpus size."""
    li = _t(spark, sf_dir, "lineitem")
    regs = sk.hll_sketch(li, "l_orderkey", "l_returnflag")
    est = sk.hll_estimate(regs, "l_returnflag")
    exact = (li.groupBy("l_returnflag")
             .agg(F.countDistinct("l_orderkey").cast("long")
                  .alias("exact_cnt")))
    return est.join(exact, "l_returnflag")


# HLL++ bias correction: identical register/raw/lc replay as
# hll_distinct, plus the interpolated-bias CASE ladder generated
# from the SAME literal HLL_BIAS_TABLE as the Spark expression
@gate(oracle=f"""
        WITH k AS (
          SELECT CAST(year(o_orderdate) AS VARCHAR) || '-' ||
                 CAST((month(o_orderdate) + 5) // 6 AS VARCHAR) AS g,
                 o_custkey AS v
          FROM orders),
        h AS (
          SELECT g, ('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 15))
                   ::BIGINT AS hv
          FROM k WHERE v IS NOT NULL),
        rr AS (
          SELECT g, (hv >> 52)::INT AS bucket,
                 CAST(CASE WHEN (hv & ((1::BIGINT << 52) - 1)) = 0 THEN 53
                      ELSE 53 - length(bin(hv & ((1::BIGINT << 52) - 1)))
                      END AS INT) AS rho
          FROM h),
        reg AS (SELECT g, bucket, max(rho) AS max_rho
                FROM rr GROUP BY g, bucket),
        agg AS (
          SELECT g, CAST(count(*) AS INT) AS n_buckets,
                 sum((1::BIGINT << (53 - max_rho))) AS pow_sum
          FROM reg GROUP BY g),
        e AS (
          SELECT g, n_buckets,
                 CAST({sk.HLL_RAW_NUM} AS HUGEINT)
                   // (CAST(1000000 AS HUGEINT) *
                       ((256 - n_buckets)::HUGEINT * (1::BIGINT << 53)
                        + pow_sum)) AS raw,
                 (CAST(256 AS BIGINT) *
                  CAST(floor(1000000 * ln(256.0 / (256 - n_buckets)))
                       AS BIGINT)) // 1000000 AS lc
          FROM agg),
        est AS (
          SELECT g, n_buckets,
                 CAST(CASE WHEN n_buckets < 256 AND raw <= 640 THEN lc
                      WHEN raw <= 1280 THEN
                        raw - ({sk.hll_bias_case_sql('raw')})
                      ELSE raw END AS BIGINT) AS est,
                 CAST(CASE WHEN n_buckets < 256 AND raw <= 640 THEN lc
                      ELSE raw END AS BIGINT) AS est_plain
          FROM e),
        exact AS (
          SELECT g, CAST(count(DISTINCT v) AS BIGINT) AS exact_cnt
          FROM k GROUP BY g)
        SELECT est.g AS half, est.n_buckets, est.est, est.est_plain,
               exact.exact_cnt
        FROM est JOIN exact USING (g)""")
def q_hll_bias_corrected(spark, sf_dir):
    """HLL++ bias-corrected cardinality (functions.sketch.
    hll_estimate_corrected, r9): distinct customers per order half-year
    estimated from the SAME 256 registers as hll_distinct, with the
    Heule-et-al. mid-range correction — piecewise-linear interpolated
    bias over the 22-anchor table calibrated in-repo for this md5/60-bit
    hash family (tools/calibrate_hll_bias.py; constants LITERAL on both
    engines). At sf0.01 the half-year groups land ~770-830 distinct —
    squarely in the corrected branch (raw in (640, 1280], nonzero bias);
    at sf0.1 they exceed 5m and pass through raw, and one short stub
    half exercises linear counting, so every branch is driver-covered
    across SFs. est_plain (the uncorrected estimator) and exact_cnt ride
    along so the artifact itself shows the error tightening."""
    orders = _t(spark, sf_dir, "orders")
    keyed = orders.select(
        F.concat_ws(
            "-", F.year("o_orderdate").cast("string"),
            F.floor((F.month("o_orderdate") + F.lit(5)) / F.lit(6))
            .cast("string")).alias("half"),
        "o_custkey")
    regs = sk.hll_sketch(keyed, "o_custkey", "half")
    corr = sk.hll_estimate_corrected(regs, "half")
    plain = (sk.hll_estimate(regs, "half")
             .select("half", F.col("est").alias("est_plain")))
    exact = (keyed.groupBy("half")
             .agg(F.countDistinct("o_custkey").cast("long")
                  .alias("exact_cnt")))
    return corr.join(plain, "half").join(exact, "half")


# bloom filter: the bitmap-bit test is set-equivalent to "all k md5
# positions present among the build side's positions", which is what
# the join-count replay computes; false_neg is 0 by construction
@gate(oracle="""
        WITH urgent AS (
          SELECT DISTINCT o_orderkey AS k FROM orders
          WHERE o_orderpriority = '1-URGENT'),
        pos AS (
          SELECT DISTINCT ('0x' || substr(md5(CAST(i AS VARCHAR) || ':' ||
                           CAST(k AS VARCHAR)), 1, 15))::BIGINT % 32768
                   AS pos
          FROM urgent, (SELECT unnest(range(3)) AS i)),
        probe AS (SELECT DISTINCT l_orderkey AS k FROM lineitem
                  WHERE l_orderkey IS NOT NULL),
        ph AS (
          SELECT k, ('0x' || substr(md5(CAST(i AS VARCHAR) || ':' ||
                     CAST(k AS VARCHAR)), 1, 15))::BIGINT % 32768 AS pos
          FROM probe, (SELECT unnest(range(3)) AS i)),
        hits AS (SELECT ph.k, count(*) AS nhit
                 FROM ph JOIN pos USING (pos) GROUP BY ph.k),
        f AS (
          SELECT probe.k, coalesce(h.nhit, 0) = 3 AS bp,
                 u.k IS NOT NULL AS m
          FROM probe LEFT JOIN hits h ON probe.k = h.k
                     LEFT JOIN urgent u ON probe.k = u.k)
        SELECT CAST(count(*) AS BIGINT) AS probed,
               CAST(sum(CASE WHEN bp THEN 1 ELSE 0 END) AS BIGINT)
                 AS bloom_pass,
               CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT)
                 AS true_members,
               CAST(sum(CASE WHEN bp AND NOT m THEN 1 ELSE 0 END)
                    AS BIGINT) AS false_pos,
               CAST(sum(CASE WHEN NOT bp AND m THEN 1 ELSE 0 END)
                    AS BIGINT) AS false_neg
        FROM f""")
def q_bloom_prune(spark, sf_dir):
    """Bloom-filter fact-side pruning (functions.sketch.bloom_build/
    bloom_might_contain, r7) — the explicit runtime-filter shape: build
    a 32768-bit / 3-hash bitmap from the URGENT orders' keys (state is
    m BITS, the collect is m-bounded metadata), then test every distinct
    lineitem orderkey MAP-ONLY against the literal bitmap — no join, no
    shuffle on the probe side; at 100 TB this prunes the fact table
    before the join shuffle. Returns the one-row confusion summary; the
    driver hash-checks it (false_neg pinned 0 by construction, the md5
    position family replays exactly in SQL)."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    urgent = (orders.filter(F.col("o_orderpriority") == "1-URGENT")
              .select("o_orderkey"))
    words = sk.bloom_build(urgent, "o_orderkey", m_bits=32768, k_hashes=3)
    probe = (li.select("l_orderkey")
             .filter(F.col("l_orderkey").isNotNull()).distinct())
    flg = probe.withColumn(
        "bp", sk.bloom_might_contain("l_orderkey", words,
                                     m_bits=32768, k_hashes=3))
    mem = urgent.distinct().withColumn("m", F.lit(1))
    return (flg.join(mem, flg.l_orderkey == mem.o_orderkey, "left")
            .agg(F.count("*").cast("long").alias("probed"),
                 F.sum(F.when(F.col("bp"), 1).otherwise(0)).cast("long")
                 .alias("bloom_pass"),
                 F.sum(F.when(F.col("m").isNotNull(), 1).otherwise(0))
                 .cast("long").alias("true_members"),
                 F.sum(F.when(F.col("bp") & F.col("m").isNull(), 1)
                       .otherwise(0)).cast("long").alias("false_pos"),
                 F.sum(F.when(~F.col("bp") & F.col("m").isNotNull(), 1)
                       .otherwise(0)).cast("long").alias("false_neg")))
