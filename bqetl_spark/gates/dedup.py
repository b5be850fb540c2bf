"""Deduplication gates: exact and fingerprint dedup, n-gram Jaccard,
MinHash/SimHash/winnowing near-duplicates, clusters, containment,
incremental dedup, edit distance and entity resolution.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bqetl_spark.functions import dedup as dd
from bqetl_spark.functions import text as tx

from bqetl_spark.gates import gate
from bqetl_spark.gates.common import _GRAMS, _TOK, _t
from bqetl_spark.gates.text import _QUALITY_FILTER_ORACLE


@gate(oracle="""
            SELECT min(doc_id) AS doc_id, count(*) AS n_copies
            FROM documents GROUP BY md5(text)""")
def q_dedup_exact(spark, sf_dir):
    return dd.dedup_exact(_t(spark, sf_dir, "documents")).select("doc_id", "n_copies")


# normalized-text md5 (matches functions.text.fingerprint)
_FP = ("md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),"
       " '\\s+', ' ', 'g')))")


@gate(oracle=f"""
            SELECT {_FP} AS fp, min(doc_id) AS doc_id, count(*) AS n_copies
            FROM documents GROUP BY 1""")
def q_dedup_fingerprint(spark, sf_dir):
    return (dd.dedup_fingerprint(_t(spark, sf_dir, "documents"))
            .select("fp", "doc_id", "n_copies"))


@gate(oracle=f"""
            WITH t AS (
              SELECT doc_id, {_GRAMS} AS g
              FROM (SELECT doc_id, {_TOK} AS w, text FROM documents))
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                         / greatest(len(list_distinct(list_concat(a.g, b.g))), 1), 6) AS jaccard
            FROM t a JOIN t b ON a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                  / greatest(len(list_distinct(list_concat(a.g, b.g))), 1) >= 0.5""")
def q_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard near-dup pairs via inverted gram index."""
    docs = _t(spark, sf_dir, "documents")
    return dd.ngram_jaccard_pairs(docs, n=3, threshold=0.5)


# prefix-filtered exact jaccard: same answer as ngram_jaccard by the
# prefix principle (no pair lost) -> same oracle
# ngram_prefix_jaccard (r8): exact Jaccard over 8-token "title"
# records; inverted-index candidate generation (any pair at
# t=0.5 must share >= 1 gram) + exact list_intersect verify —
# equals all-pairs, ~300x cheaper at sf0.1
@gate(oracle="""
        WITH t AS MATERIALIZED (
          SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ')
                   for i in range(1, greatest(len(w)-2, 1) + 1)]) AS g
          FROM (SELECT doc_id,
                  regexp_split_to_array(trim(text), '\\s+')[1:8] AS w
                FROM documents)),
        inv AS (SELECT doc_id, unnest(g) AS gr FROM t),
        cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                 FROM inv a JOIN inv b
                 ON a.gr = b.gr AND a.doc_id < b.doc_id)
        SELECT cand.id_a, cand.id_b,
               round(CAST(len(list_intersect(ta.g, tb.g)) AS DOUBLE)
                     / greatest(len(list_distinct(
                         list_concat(ta.g, tb.g))), 1), 6) AS jaccard
        FROM cand JOIN t ta ON cand.id_a = ta.doc_id
                  JOIN t tb ON cand.id_b = tb.doc_id
        WHERE CAST(len(list_intersect(ta.g, tb.g)) AS DOUBLE)
              / greatest(len(list_distinct(
                  list_concat(ta.g, tb.g))), 1) >= 0.5""")
def q_ngram_prefix_jaccard(spark, sf_dir):
    """PPJoin-style prefix-filtered EXACT Jaccard (dedup.
    ngram_jaccard_prefix_pairs) over SHORT RECORDS — each document's
    8-token opening "title", the record-linkage regime PPJoin is built
    for (Xiao et al.: small sets, huge corpora). r8 re-fixtured per the
    r7 verdict: the full-document shape was regime-mismatched (hundreds
    of grams per set made per-candidate verification dominate — 244 s
    vs 14.6 s at sf1, PLANS.md) and bimodal at sf0.1; on 6-gram title
    sets the prefix index does its job. The library op is unchanged and
    tests/test_dedup.py::test_ngram_prefix_equals_inverted_index still
    pins its full-document output equal to ngram_jaccard_pairs — the
    prefix principle loses no pair. Oracle: inverted-index candidates
    (shared-gram equi-join) + exact verify, same result as all-pairs by
    the >=1-shared-gram necessity at t=0.5."""
    docs = _t(spark, sf_dir, "documents")
    # anchored regexp_extract reads O(title), not O(document) — the
    # split/slice build materialized the FULL token array per doc
    # (~25% of gate time at sf0.1, A/B in PLANS r8); token-equivalent
    # to the oracle's regexp_split(...)[1:8] since downstream only
    # ever re-tokenizes on \s+
    titles = docs.select(
        "doc_id",
        F.regexp_extract(F.trim(F.col("text")),
                         r"^(\S+(?:\s+\S+){0,7})", 1).alias("text"))
    return dd.ngram_jaccard_prefix_pairs(titles, n=3, threshold=0.5)


@gate(oracle=f"""
            -- oracle = exact jaccard (LSH miss probability ~1e-23 at j>=0.9)
            WITH t AS (
              SELECT doc_id, {_GRAMS} AS g
              FROM (SELECT doc_id, {_TOK} AS w, text FROM documents))
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                         / greatest(len(list_distinct(list_concat(a.g, b.g))), 1), 6) AS jaccard
            FROM t a JOIN t b ON a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                  / greatest(len(list_distinct(list_concat(a.g, b.g))), 1) >= 0.9""")
def q_minhash_lsh(spark, sf_dir):
    """MinHash-LSH near-dup pairs verified by true Jaccard ≥ 0.9.

    Band geometry (64 perms / 16 bands × 4 rows, r11): collision-miss
    probability at j ≥ 0.9 is (1−0.9⁴)¹⁶ ≈ 4e-8 — still effectively
    exact, so the LSH result equals the exact-SQL oracle. The r10 gate
    ran 32 bands × 2 rows, whose S-curve admits j≈0.33 noise pairs into
    ≥1 band with ~97% probability — measured at replicated scales this
    was THE superlinear driver (sf3: 3.19M candidates, 75 s) while 4-row
    bands generate 6-11× fewer candidates (sf3: 0.53M, 18 s — sf1→sf3
    growth 1.08× vs 3.7×) with BIT-IDENTICAL output at every scale
    point (PLANS.md r11)."""
    docs = _t(spark, sf_dir, "documents")
    return dd.minhash_lsh_pairs(docs, num_perm=64, bands=16,
                                jaccard_threshold=0.9)


_DEDUP_CLUSTERS_ORACLE = f"""
            -- t/pairs MATERIALIZED: under WITH RECURSIVE DuckDB would
            -- otherwise inline them, recomputing the all-pairs Jaccard per
            -- reference (31s -> ~10s)
            WITH RECURSIVE t AS MATERIALIZED (
              SELECT doc_id, {_GRAMS} AS g
              FROM (SELECT doc_id, {_TOK} AS w, text FROM documents)),
            pairs AS MATERIALIZED (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM t a JOIN t b ON a.doc_id < b.doc_id
              WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                    / greatest(len(list_distinct(list_concat(a.g, b.g))), 1) >= 0.9),
            edges AS (
              SELECT id_a AS s, id_b AS d FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
            reach AS (
              SELECT DISTINCT s AS n, s AS m FROM edges
              UNION
              SELECT reach.n, e.d FROM reach JOIN edges e ON reach.m = e.s),
            comp AS (
              SELECT n AS doc_id, MIN(m) AS cluster_id FROM reach GROUP BY 1),
            sizes AS (
              SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY 1)
            SELECT comp.doc_id, comp.cluster_id, sizes.cluster_size,
                   comp.doc_id = comp.cluster_id AS is_representative
            FROM comp JOIN sizes USING (cluster_id)"""


@gate(oracle=_DEDUP_CLUSTERS_ORACLE)
def q_dedup_clusters(spark, sf_dir):
    """Near-dup clustering: MinHash-LSH pairs → connected components →
    (doc_id, cluster_id, cluster_size, is_representative). The oracle
    computes the same transitive closure with a recursive CTE over the
    exact-Jaccard pair set (LSH miss probability ~4e-8 at j≥0.9 with
    the r11 16×4 band geometry — see q_minhash_lsh)."""
    docs = _t(spark, sf_dir, "documents")
    return dd.dedup_clusters(docs, num_perm=64, bands=16,
                             jaccard_threshold=0.9)


# simhash oracle: FNV-1a 64 per distinct token (sequential char fold, mod
# 2^64), TF-weighted per-bit votes, top-16-bit blocking, hamming <= 3.
_SIMHASH_ORACLE = """
    WITH toks AS (
      SELECT doc_id, tok, count(*) AS w
      FROM (SELECT doc_id,
                   unnest(regexp_split_to_array(trim(text, ' \t\n\r'),
                                                '\\s+')) AS tok
            FROM documents)
      WHERE tok <> '' GROUP BY doc_id, tok
    ), vocab AS (
      SELECT DISTINCT tok FROM toks
    ), fnv AS (
      SELECT tok,
             list_reduce(
               list_prepend(CAST(1469598103934665603 AS HUGEINT),
                            list_transform(string_split(tok, ''),
                                           c -> CAST(ord(c) AS HUGEINT))),
               (acc, b) -> (CAST(xor(CAST(acc AS UBIGINT), CAST(b AS UBIGINT))
                                 AS HUGEINT) * 1099511628211)
                           % 18446744073709551616) AS h
      FROM vocab
    ), bits AS (
      SELECT t.doc_id, t.w, p.b, p.pw,
             CAST((f.h // p.pw) % 2 AS BIGINT) AS bit
      FROM toks t JOIN fnv f USING (tok)
      CROSS JOIN (SELECT b, CAST(power(2.0, b) AS HUGEINT) AS pw
                  FROM (SELECT unnest(range(64)) AS b)) p
    ), votes AS (
      SELECT doc_id, b, pw, sum(w * (2 * bit - 1)) AS vote
      FROM bits GROUP BY doc_id, b, pw
    ), sh AS (
      SELECT doc_id,
             sum(CASE WHEN vote > 0 THEN pw ELSE 0 END) AS shu
      FROM votes GROUP BY doc_id
    ), shs AS (
      SELECT doc_id,
             CAST(CASE WHEN shu >= 9223372036854775808
                  THEN shu - 18446744073709551616
                  ELSE shu END AS BIGINT) AS sh,
             shu // 281474976710656 AS blk
      FROM sh
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.sh, b.sh)) AS hamming
    FROM shs a JOIN shs b ON a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= 3"""


# simhash_pairs: the per-token FNV-1a 64 hash is a sequential
# byte fold — reproduced with list_reduce over the token's chars
# (HUGEINT mod-2^64 products); per-bit TF-weighted votes, block on
# the top 16 bits, hamming via bit_count(xor) on the signed
# reinterpretation. Matches simhash64_vec bit-for-bit.
@gate(oracle=_SIMHASH_ORACLE)
def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs. Fully oracled: the per-token FNV-1a 64 hash
    and per-bit TF votes are pure functions of the text, reproduced in
    DuckDB (_SIMHASH_ORACLE) with HUGEINT mod-2^64 arithmetic, so the
    driver hash-checks the complete pair set."""
    docs = _t(spark, sf_dir, "documents")
    return dd.simhash_pairs(docs, max_hamming=3, prefix_bits=16)


# winnowing fingerprint oracle: k=8, w=4 (q_winnow_neardup's parameters).
# POWS are base^(k-1-j) mod 2^64, the same wraparound arithmetic
# winnow_fingerprint_vec does in numpy uint64.
_WINNOW_POWS = [pow(1000003, 7 - j, 1 << 64) for j in range(8)]
_WINNOW_TERMS = " + ".join(
    f"CAST(ord(substr(text, i + {j}, 1)) AS HUGEINT) * {_WINNOW_POWS[j]}"
    for j in range(8))
_WINNOW_ORACLE = f"""
    WITH docs0 AS (
      SELECT doc_id, text, len(text) AS n FROM documents
    ), pos AS (
      SELECT doc_id, text, n, unnest(range(1, n - 8 + 2)) AS i
      FROM docs0 WHERE n >= 8
    ), hashes AS (
      SELECT doc_id, i, n - 7 AS n_h,
             ({_WINNOW_TERMS}) % 18446744073709551616 AS h
      FROM pos
    ), wmins AS (
      SELECT doc_id, i, n_h,
             min(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mn
      FROM hashes
    ), fps AS (
      SELECT DISTINCT doc_id, mn FROM wmins
      WHERE i <= greatest(n_h - 3, 1)
    ), sized AS (
      SELECT doc_id, mn, count(*) OVER (PARTITION BY doc_id) AS n_fp FROM fps
    ), shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_fp AS na, b.n_fp AS nb,
             count(*) AS c
      FROM sized a JOIN sized b ON a.mn = b.mn AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b,
           round(CAST(c AS DOUBLE) / (na + nb - c), 6) AS jaccard
    FROM shared
    WHERE CAST(c AS DOUBLE) / (na + nb - c) >= 0.5"""


# winnow_neardup: exact SQL replica of winnow_fingerprint_vec — the
# Rabin-Karp k-gram hash is a base-1000003 polynomial mod 2^64
# (HUGEINT arithmetic), window minima via ROWS BETWEEN CURRENT AND
# w-1 FOLLOWING restricted to full windows (a short doc with
# n_hashes <= w yields the single global min, same as numpy).
# ord(char) == utf-8 byte because the corpus is ASCII (verified at
# sf0.01/0.1; a non-ASCII corpus would need a bytes-level unnest).
@gate(oracle=_WINNOW_ORACLE)
def q_winnow_neardup(spark, sf_dir):
    """Winnowing (rolling-hash) fingerprint near-dup pairs. Fully oracled:
    the Rabin-Karp polynomial hash (base 1000003 mod 2^64) and w-window
    minima are reproduced in DuckDB (_WINNOW_ORACLE), so the driver
    hash-checks the complete pair set."""
    docs = _t(spark, sf_dir, "documents")
    return dd.winnow_overlap_pairs(docs, k=8, w=4, threshold=0.5)


# contamination: same 8-gram construction + md5 digest join
# exact substring duplication: literal 64-char window equality via
# md5 (both engines hash the UTF-8 of the same char-indexed slice);
# CONTENT-DEFINED selection (digest-derived hv % 8 = 0 — alignment-
# independent, same 15-hex-digit integerization as Spark's
# conv(substr(md5,1,15),16,10)); DISTINCT (id, digest) before the
# guard so df_h counts documents; guard <= 50 documents per digest,
# pairs from the digest equi-join
@gate(oracle="""
        WITH w AS (
          SELECT DISTINCT id, h FROM (
            SELECT doc_id AS id,
                   md5(substr(text, CAST(p AS INT), 64)) AS h
            FROM documents,
                 LATERAL (SELECT unnest(generate_series(
                            1, len(text) - 63)) AS p) s
            WHERE len(text) >= 64)
          WHERE ('0x' || substr(h, 1, 15))::BIGINT % 8 = 0
        ), f AS (
          SELECT h FROM w GROUP BY h HAVING count(*) <= 50
        ), wf AS (
          SELECT w.id, w.h FROM w JOIN f USING (h)
        )
        SELECT a.id AS doc_a, b.id AS doc_b,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM wf a JOIN wf b USING (h)
        WHERE a.id < b.id
        GROUP BY a.id, b.id""")
def q_substring_dup(spark, sf_dir):
    """EXACT substring-duplication pairs (functions.dedup.
    substring_dup_pairs, r7): doc pairs sharing an identical 64-char
    window at stride-8 offsets — the verbatim-span detector of
    Lee et al.'s exact-substring dedup, char-granular. Literal equality
    through md5 digests both engines compute identically (char-indexed
    substr + UTF-8 md5 on both sides, so non-ASCII is safe here unlike
    the byte-sliced media gates); inverted-index equi-join with the
    standard max_window_freq boilerplate guard — never all-pairs."""
    docs = _t(spark, sf_dir, "documents")
    return dd.substring_dup_pairs(docs, window=64, stride=8,
                                  max_window_freq=50)


@gate(oracle=f"""
        WITH t AS (SELECT doc_id, {_TOK} AS w FROM documents),
        g AS (
          SELECT doc_id, md5(g) AS h FROM (
            SELECT doc_id,
                   unnest(list_distinct([array_to_string(w[i:i+7], ' ')
                          for i in range(1, greatest(len(w) - 8, 0) + 2)]))
                   AS g
            FROM t)),
        cg AS (SELECT doc_id, h FROM g WHERE doc_id % 10 != 0),
        bg AS (SELECT doc_id AS bench_id, h FROM g WHERE doc_id % 10 = 0)
        SELECT cg.doc_id,
               CAST(count(DISTINCT cg.h) AS BIGINT) AS n_shared_grams,
               CAST(count(DISTINCT bench_id) AS BIGINT) AS n_benchmark_docs
        FROM cg JOIN bg ON cg.h = bg.h
        GROUP BY cg.doc_id""")
def q_contamination(spark, sf_dir):
    """Benchmark decontamination (functions.dedup.contamination_flags):
    docs with doc_id%10==0 play the benchmark, the rest the corpus; flag
    corpus docs sharing any 8-gram with a benchmark doc. Exact inverted
    index on gram md5 digests, reproduced verbatim in the oracle."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    return dd.contamination_flags(corpus, bench, n=8)


# ngram_containment (r8): inverted-index intersection counts,
# asymmetric normalization by the SOURCE gram-set size; truncated
# gram for docs shorter than n (w[i:i+7] mirrors word_ngrams_of's
# greatest(size-n,0) sequence)
@gate(oracle="""
        WITH t AS MATERIALIZED (
          SELECT doc_id AS id,
                 list_distinct([array_to_string(w[i:i+7], ' ')
                   for i in range(1, greatest(len(w)-8+1, 1) + 1)]) AS g
          FROM (SELECT doc_id,
                       regexp_split_to_array(trim(text), '\\s+') AS w
                FROM documents)),
        inv AS (SELECT id, len(g) AS ng, unnest(g) AS gr FROM t),
        sh AS (SELECT a.id AS src_id, b.id AS dst_id, a.ng,
                      count(*) AS c
               FROM inv a JOIN inv b ON a.gr = b.gr AND a.id != b.id
               GROUP BY 1, 2, 3)
        SELECT src_id, dst_id, CAST(ng AS BIGINT) AS n_src_grams,
               round(CAST(c AS DOUBLE) / ng, 6) AS containment
        FROM sh WHERE CAST(c AS DOUBLE) / ng >= 0.8""")
def q_ngram_containment(spark, sf_dir):
    """Asymmetric containment near-dup pairs (dedup.
    ngram_containment_pairs, r8): |grams(src) ∩ grams(dst)| /
    |grams(src)| >= 0.8 over 8-word grams — the Broder-containment
    complement to the symmetric Jaccard passes, catching a short
    document pasted inside a long one (tiny Jaccard, containment ≈ 1
    from the short side). Inverted gram index; the self-join count IS
    the intersection, no arrays re-intersected, zero-overlap pairs
    never materialize. Both directions emitted when both clear the
    threshold."""
    docs = _t(spark, sf_dir, "documents")
    return dd.ngram_containment_pairs(docs, n=8, threshold=0.8)


# incremental dedup: the batch/corpus split is doc_id parity
@gate(oracle=f"""
        WITH fp AS (
            SELECT doc_id, lang, source, {_FP} AS f FROM documents),
        seen AS (SELECT DISTINCT f FROM fp WHERE doc_id % 2 = 0),
        fresh AS (
            SELECT * FROM fp WHERE doc_id % 2 = 1
              AND f NOT IN (SELECT f FROM seen)),
        keepers AS (SELECT f, min(doc_id) AS doc_id FROM fresh GROUP BY f)
        SELECT fr.doc_id, fr.lang, fr.source
        FROM fresh fr JOIN keepers k ON fr.f = k.f AND fr.doc_id = k.doc_id""")
def q_dedup_incremental(spark, sf_dir):
    """Incremental exact dedup (functions.dedup.dedup_against): odd-id
    docs are the incoming batch, even-id docs the existing corpus; keep
    batch docs whose normalized fingerprint is unseen, deduped within the
    batch (min id). The ingest path — joins on digests, never bodies."""
    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    seen = docs.filter(F.col("doc_id") % 2 == 0)
    return (dd.dedup_against(new, seen)
            .select("doc_id", "lang", "source"))


# r6: the gate runs at threshold 0.9 / 32 bands, where banded-LSH miss
# probability at j >= 0.9 is (1-0.81)^32 ~ 9e-24 — so the exact-jaccard
# oracle is equal to the LSH output for ANY corpus (the r5 gate at
# 0.5/16x4 matched only because generated dups sat far above 0.5;
# near-threshold data could flip it without a real bug). The fuzz tier
# test_minhash_incremental_at_threshold_pairs plants exactly-0.9 pairs.
@gate(oracle=f"""
        WITH t AS MATERIALIZED (
            SELECT doc_id, {_GRAMS} AS g
            FROM (SELECT doc_id, {_TOK} AS w, text FROM documents))
        SELECT a.doc_id AS new_id, b.doc_id AS seen_id,
               round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                     / greatest(len(list_distinct(list_concat(a.g, b.g))), 1),
                     6) AS jaccard
        FROM t a JOIN t b ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
        WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
              / greatest(len(list_distinct(list_concat(a.g, b.g))), 1) >= 0.9""")
def q_minhash_incremental(spark, sf_dir):
    """Cross-corpus MinHash-LSH (functions.dedup.minhash_pairs_between):
    near-dup pairs between the odd-id batch and the even-id corpus — the
    "which new docs duplicate something we already have?" question. The
    oracle is the exact cross-corpus jaccard join.

    r6 hardening (r5 verdict #3 / ADVICE): the gate runs at threshold 0.9
    with 64 perms / 32 bands — the same certifiable regime as minhash_lsh:
    the banded miss probability at j ≥ 0.9 is (1−0.9²)³² ≈ 9e-24, so LSH
    output == the exact oracle for ANY corpus, including adversarial
    exactly-at-threshold pairs (fuzz tier plants j = 18/20 pairs). The
    old 0.5-threshold/16-band gate matched only because generated dup
    pairs sat far above threshold — a data-dependent gate."""
    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    seen = docs.filter(F.col("doc_id") % 2 == 0)
    return dd.minhash_pairs_between(new, seen, num_perm=64, bands=16,
                                    jaccard_threshold=0.9)


# keep-best composes the clusters CTE with the quality-score CTE; the
# window argmax (score desc, id asc) mirrors functions.dedup.keep_best
@gate(oracle=f"""
        SELECT doc_id, cluster_id, quality_score
        FROM (
            SELECT c.doc_id, c.cluster_id, q.quality_score,
                   row_number() OVER (PARTITION BY c.cluster_id
                                      ORDER BY q.quality_score DESC,
                                               c.doc_id ASC) AS rn
            FROM ({_DEDUP_CLUSTERS_ORACLE}) c
            JOIN ({_QUALITY_FILTER_ORACLE}) q ON c.doc_id = q.doc_id
        ) WHERE rn = 1""")
def q_dedup_keep_best(spark, sf_dir):
    """Curation dedup: near-dup clusters (dedup_clusters) reduced to their
    highest-quality member (functions.dedup.keep_best) instead of the
    arbitrary min-id representative — what a production corpus curation
    actually keeps. Ties by ascending doc_id."""
    docs = _t(spark, sf_dir, "documents")
    clusters = dd.dedup_clusters(docs, num_perm=64, bands=16,
                                 jaccard_threshold=0.9)
    scored = tx.quality_score(docs, "text").select("doc_id", "quality_score")
    return dd.keep_best(clusters, scored)


# edit_dist_pairs: same blocking guard replay (blocks of 2..64 on the
# 12-char prefix), full levenshtein on the 48-char ASCII prefix —
# DuckDB's levenshtein counts characters like Spark's; the explicit
# ASCII predicate keeps the comparison data-independent
@gate(oracle=r"""
        WITH d AS (
            SELECT doc_id AS id, substr(text, 1, 48) AS p
            FROM documents
            WHERE text IS NOT NULL
              AND regexp_matches(substr(text, 1, 48), '^[\x20-\x7e]*$')),
        d2 AS (SELECT id, p, substr(p, 1, 12) AS blk FROM d),
        g AS (SELECT blk FROM d2 GROUP BY blk
              HAVING count(*) BETWEEN 2 AND 64)
        SELECT a.id AS id_a, b.id AS id_b,
               CAST(levenshtein(a.p, b.p) AS INTEGER) AS dist
        FROM d2 a JOIN g USING (blk) JOIN d2 b USING (blk)
        WHERE a.id < b.id AND levenshtein(a.p, b.p) <= 24""")
def q_edit_dist_pairs(spark, sf_dir):
    """Bounded-Levenshtein fuzzy pairs (functions.dedup.
    edit_distance_pairs, r7): the record-linkage tier of the dedup
    family — shared-12-char-prefix blocking (blocks capped at 64, the
    deterministic boilerplate guard), then JVM built-in
    levenshtein(p, p, threshold) over 48-char ASCII prefixes. One
    shuffle on the block key; quadratic work bounded per block; bodies
    never move."""
    from bqetl_spark.functions.dedup import edit_distance_pairs

    docs = _t(spark, sf_dir, "documents")
    return edit_distance_pairs(docs, prefix_len=48, block_chars=12,
                               max_dist=24, max_block_size=64)


# entity resolution: capped (brand,type) block self-join +
# distinct-token overlap, WITH RECURSIVE reachability closure
# (exact CC — certifying the Spark side's propagation converged),
# min-id canon + sizes; ok = the r8 max_block_size=256 guard
@gate(oracle="""
        WITH RECURSIVE t0 AS MATERIALIZED (
          SELECT p_partkey AS id,
                 list_distinct(regexp_split_to_array(trim(p_name),
                                                     '\\s+')) AS tk,
                 p_brand, p_type
          FROM part),
        ok AS (
          SELECT p_brand, p_type FROM t0
          GROUP BY 1, 2 HAVING count(*) <= 256),
        t AS MATERIALIZED (
          SELECT t0.* FROM t0 JOIN ok USING (p_brand, p_type)),
        pairs AS MATERIALIZED (
          SELECT a.id AS id_a, b.id AS id_b
          FROM t a JOIN t b ON a.id < b.id AND a.p_brand = b.p_brand
                            AND a.p_type = b.p_type
          WHERE len(list_intersect(a.tk, b.tk)) >= 2),
        edges AS (
          SELECT id_a AS s, id_b AS d FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
        reach AS (
          SELECT DISTINCT s AS n, s AS m FROM edges
          UNION
          SELECT reach.n, e.d FROM reach JOIN edges e ON reach.m = e.s),
        comp AS (SELECT n AS id, MIN(m) AS canon_id FROM reach GROUP BY 1),
        lab AS (
          SELECT part.p_partkey AS id,
                 coalesce(comp.canon_id, part.p_partkey) AS canon_id
          FROM part LEFT JOIN comp ON part.p_partkey = comp.id),
        sizes AS (
          SELECT canon_id, CAST(count(*) AS BIGINT) AS cluster_size
          FROM lab GROUP BY canon_id)
        SELECT lab.id, lab.canon_id, sizes.cluster_size,
               lab.id = lab.canon_id AS is_canonical
        FROM lab JOIN sizes USING (canon_id)""")
def q_entity_resolution(spark, sf_dir):
    """Entity resolution / catalog dedup (functions.entity.
    resolve_entities, r8 capped production shape): parts sharing >= 2
    distinct name tokens within a (brand, type) block collapse to one
    canonical record — blocking equi-self-join (hash join, no BNLJ) ->
    token-overlap match -> connected components (min-label + pointer
    jumping) -> min-id canonicalization, the Fellegi-Sunter-shaped
    pipeline composed from the engine's own primitives. r8 closes the
    r7 verdict's last unguarded candidate generator: the gate now runs
    the FINER (brand, type) blocking key plus max_block_size=256 —
    blocks over the cap contribute no pairs (deterministic
    drop-don't-truncate), so within-block work is bounded cap*N at any
    corpus size (the same shape tools/bench_slope.py measures). Oracle
    replays the cap with a HAVING CTE and the closure with a WITH
    RECURSIVE reachability (exact CC at any diameter), so the
    hash-match also certifies the propagation CONVERGED."""
    from bqetl_spark.functions.entity import resolve_entities

    part = _t(spark, sf_dir, "part")
    return resolve_entities(part, "p_partkey", "p_name",
                            ("p_brand", "p_type"), min_common=2,
                            max_block_size=256)


# boilerplate strip: fixed-width token windows, distinct-doc
# frequency threshold, md5 of the in-order rebuilt text; DuckDB's
# 1-based inclusive array slice clamps like Spark's slice(), and
# string_agg(... ORDER BY seg_id) FILTER replays the ordered rebuild
# (coalesce '' = Spark's empty array_join for fully-stripped docs)
@gate(oracle=f"""
        WITH toks AS (
          SELECT doc_id, {_TOK} AS ws
          FROM documents WHERE trim(text) != ''),
        segs AS (
          SELECT doc_id, CAST(i AS INT) AS seg_id,
                 array_to_string(ws[(i*3+1):(i*3+3)], ' ') AS seg
          FROM toks,
               LATERAL (SELECT unnest(range((len(ws) + 2) // 3)) AS i) t),
        freq AS (
          SELECT seg, count(DISTINCT doc_id) AS nd FROM segs GROUP BY seg)
        SELECT s.doc_id,
               CAST(count(*) AS BIGINT) AS n_segs,
               CAST(sum(CASE WHEN f.nd < 5 THEN 1 ELSE 0 END) AS BIGINT)
                 AS kept_segs,
               CAST(sum(CASE WHEN f.nd >= 5 THEN 1 ELSE 0 END) AS BIGINT)
                 AS dropped_segs,
               md5(coalesce(string_agg(s.seg, ' ' ORDER BY s.seg_id)
                            FILTER (WHERE f.nd < 5), '')) AS clean_hash
        FROM segs s JOIN freq f USING (seg)
        GROUP BY s.doc_id""")
def q_boilerplate_strip(spark, sf_dir):
    """CCNet-style cross-corpus boilerplate removal (functions.dedup.
    strip_boilerplate_segments, r7): non-overlapping 3-token windows
    appearing verbatim in >= 5 distinct docs are dropped and each doc is
    rebuilt from the survivors in order — the paragraph-dedup stage of
    CCNet/RefinedWeb, with token windows standing in for newline
    paragraphs on this corpus. Map-only segment construction, one
    frequency shuffle on short segment strings, one rebuild agg; the
    oracle replays windowing, the distinct-doc threshold, and the md5 of
    the rebuilt text (ORDER BY seg_id string_agg)."""
    docs = _t(spark, sf_dir, "documents")
    return dd.strip_boilerplate_segments(docs, seg_len=3, min_docs=5)
