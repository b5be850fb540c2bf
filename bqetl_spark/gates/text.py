"""Text gates of the LLM data pipeline: quality and language signals,
repetition, token statistics, n-gram language models, compressibility,
chunking, sampling and mixture quotas, and the corpus keep filter.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bqetl_spark.functions import chunking as ck
from bqetl_spark.functions import dedup as dd
from bqetl_spark.functions import text as tx

from bqetl_spark.gates import gate
from bqetl_spark.gates.common import _GRAMS, _TOK, _t


_GRAM_REPETITION_ORACLE = """
            WITH w AS (SELECT doc_id,
                              regexp_split_to_array(trim(text), '\\s+') AS w
                       FROM documents),
            g AS (SELECT doc_id,
                         unnest([array_to_string(w[i:i+1], ' ')
                                 for i in range(1, len(w))]) AS gram
                  FROM w WHERE len(w) >= 2),
            c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2)
            SELECT doc_id, MAX(c) AS top_count,
                   CAST(SUM(c) AS BIGINT) AS n_grams,
                   CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS rep_ratio
            FROM c GROUP BY 1"""


@gate(oracle=_GRAM_REPETITION_ORACLE)
def q_gram_repetition(spark, sf_dir):
    """Gopher-style repetition quality signal: share of a doc's bigrams
    taken by its most-repeated bigram."""
    docs = _t(spark, sf_dir, "documents")
    return tx.gram_repetition(docs, n=2)


_QUALITY_FILTER_ORACLE = f"""
            WITH feats AS (
              SELECT doc_id,
                     CASE WHEN trim(text) = '' THEN 0 ELSE len({_TOK}) END AS n_tokens,
                     round(CASE WHEN (CASE WHEN trim(text) = '' THEN 0 ELSE len({_TOK}) END) > 0
                           THEN CAST(list_sum(list_transform({_TOK}, x -> length(x))) AS DOUBLE)
                                / (CASE WHEN trim(text) = '' THEN 0 ELSE len({_TOK}) END)
                           END, 6) AS mean_word_len,
                     round(CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
                           / greatest(length(text), 1), 6) AS punct_ratio
              FROM documents)
            SELECT doc_id,
                   round(CASE WHEN n_tokens >= 5 THEN 0.4 ELSE 0.0 END
                         + CASE WHEN mean_word_len <= 12.0 THEN 0.3 ELSE 0.0 END
                         + CASE WHEN punct_ratio <= 0.2 THEN 0.3 ELSE 0.0 END, 6)
                     AS quality_score,
                   round(CASE WHEN n_tokens >= 5 THEN 0.4 ELSE 0.0 END
                         + CASE WHEN mean_word_len <= 12.0 THEN 0.3 ELSE 0.0 END
                         + CASE WHEN punct_ratio <= 0.2 THEN 0.3 ELSE 0.0 END, 6) >= 0.7
                     AS keep
            FROM feats"""


@gate(oracle=_QUALITY_FILTER_ORACLE)
def q_quality_filter(spark, sf_dir):
    """Gopher/C4-style rule filter: composite quality score + keep flag."""
    docs = _t(spark, sf_dir, "documents")
    return (tx.quality_score(docs, "text")
            .select("doc_id", "quality_score", "keep"))


_LANG_SCORE = {
    code: ("len(list_intersect(regexp_split_to_array(trim(lower(text)), '\\s+'), "
           f"{words!r}))").replace('"', "'")
    for code, words in sorted(tx.LANG_STOPWORDS.items())
}


def _lang_id_sql() -> str:
    score_cols = ", ".join(f"{expr} AS s_{code}"
                           for code, expr in _LANG_SCORE.items())
    codes = sorted(tx.LANG_STOPWORDS)
    best = "greatest(" + ", ".join(f"s_{c}" for c in codes) + ")"
    case = "CASE WHEN " + best + " = 0 THEN 'und' " + " ".join(
        f"WHEN s_{c} = {best} THEN '{c}'" for c in codes) + " ELSE 'und' END"
    return (f"SELECT doc_id, {case} AS lang_pred "
            f"FROM (SELECT doc_id, text, {score_cols} FROM documents)")


_LANG_ID_ORACLE = _lang_id_sql()


@gate(oracle=_LANG_ID_ORACLE)
def q_lang_id(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return tx.lang_id(docs).select("doc_id", "lang_pred")


# per-doc first-failing-rule verdict; CASE order mirrors the Spark
# when-chain exactly (NULL rep_ratio falls through on both engines)
@gate(oracle=f"""
        WITH q AS ({_QUALITY_FILTER_ORACLE}),
        l AS ({_LANG_ID_ORACLE}),
        r AS ({_GRAM_REPETITION_ORACLE}),
        k AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))
        SELECT d.doc_id,
               CASE WHEN NOT q.keep THEN 'quality'
                    WHEN l.lang_pred != 'en' THEN 'lang'
                    WHEN r.rep_ratio > 0.2 THEN 'repetition'
                    WHEN k.doc_id IS NULL THEN 'duplicate'
                    ELSE 'keep' END AS reason
        FROM documents d
        JOIN q ON d.doc_id = q.doc_id
        JOIN l ON d.doc_id = l.doc_id
        LEFT JOIN r ON d.doc_id = r.doc_id
        LEFT JOIN k ON d.doc_id = k.doc_id""")
def q_corpus_keep_reasons(spark, sf_dir):
    """Filter AUDITABILITY (r6): the corpus_keep chain with a per-doc
    verdict — (doc_id, reason) where reason is the FIRST failing rule in
    the fixed order quality → lang → repetition → duplicate, else
    'keep'. The table a pipeline owner actually debugs with ("why did we
    lose 40% of src7?"); same one-scan row-local chain + compact-key
    joins as corpus_keep, each stage reusing its individually-oracled
    operator."""
    docs = _t(spark, sf_dir, "documents")
    scored = tx.lang_id(tx.quality_score(docs, "text"))
    rep = tx.gram_repetition(docs, n=2).select(
        F.col("doc_id").alias("__rd"), "rep_ratio")
    reps = dd.dedup_exact(docs).select(F.col("doc_id").alias("__kid"))
    return (scored
            .join(rep, F.col("doc_id") == F.col("__rd"), "left")
            .join(reps, F.col("doc_id") == F.col("__kid"), "left")
            .select("doc_id",
                    F.when(~F.col("keep"), F.lit("quality"))
                    .when(F.col("lang_pred") != "en", F.lit("lang"))
                    .when(F.col("rep_ratio") > 0.2, F.lit("repetition"))
                    .when(F.col("__kid").isNull(), F.lit("duplicate"))
                    .otherwise(F.lit("keep")).alias("reason")))


@gate()
def q_compression_ratio(spark, sf_dir):
    """DEFLATE compression-ratio quality signal (functions.
    compressibility.compression_ratio, zlib level 6) — the Gopher-style
    repetition detector. ROWS-ONLY GATE by documented necessity: DuckDB
    has no DEFLATE function, so the value contract is pinned by pytest
    (ratio arithmetic replayed in Python, ordering properties, partition
    invariance) instead of a SQL oracle — the one op family where the
    weaker check is the honest maximum."""
    from bqetl_spark.functions.compressibility import compression_ratio

    docs = _t(spark, sf_dir, "documents")
    return compression_ratio(docs)


# LZ77 window-savings (r11): the certifiable compression-signal
# core — coalesce guards keep both engines identical on NULL/empty
# text (Spark's greatest skips NULLs, DuckDB's may propagate them)
@gate(oracle="""
        WITH pk AS (
            SELECT doc_id, text, k
            FROM documents, (VALUES (8), (16)) t(k)),
        calc AS (
            SELECT doc_id, CAST(k AS BIGINT) AS k,
                   CAST(greatest(coalesce(length(text), 0) - (k - 1), 0)
                        AS BIGINT) AS n_windows,
                   CAST(CASE WHEN length(text) >= k THEN
                        len(list_distinct([substr(text, i, k)
                             for i in range(1, length(text) - k + 2)]))
                        ELSE 0 END AS BIGINT) AS n_distinct,
                   greatest(coalesce(length(text), 0), 1) AS ln1
            FROM pk)
        SELECT doc_id, k, n_windows, n_distinct,
               (n_windows - n_distinct) * k AS savings,
               CAST((n_windows - n_distinct) * k * 1000000 // ln1
                    AS BIGINT) AS savings_ppm
        FROM calc""")
def q_lz_savings(spark, sf_dir):
    """Hash-certifiable core of the compression-signal family (r11,
    verdict item 6): the LZ77 dictionary-coverage upper bound DEFLATE
    exploits — per (doc, k∈{8,16}) window counts, distinct counts and
    back-reference savings, all exact integers in pure codegen
    (functions.compressibility.lz_window_savings). The DEFLATE gate
    (compression_ratio) stays honestly rows-only — DuckDB has no
    DEFLATE — but its signal core now carries a full value-hash, and
    the pytest tier pins the two to agree in direction on repetitive/
    normal/random text."""
    from bqetl_spark.functions.compressibility import lz_window_savings

    docs = _t(spark, sf_dir, "documents")
    return lz_window_savings(docs)


@gate(oracle="""
            WITH aug AS (
              SELECT doc_id,
                     text || ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@example-' || CAST(doc_id % 7 AS VARCHAR)
                          || '.org via https://site' || CAST(doc_id % 5 AS VARCHAR)
                          || '.example/page or call +1 555-01'
                          || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS t
              FROM documents)
            SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(t,
                     'https?://[^\\s]+', '<URL>', 'g'),
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                     '\\+[0-9][0-9 ()./-]{6,}[0-9]', '<PHONE>', 'g') AS clean,
                   len(regexp_extract_all(t, 'https?://[^\\s]+'))
                   + len(regexp_extract_all(t,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                   + len(regexp_extract_all(t,
                       '\\+[0-9][0-9 ()./-]{6,}[0-9]')) AS n_pii
            FROM aug""")
def q_pii_redact(spark, sf_dir):
    """PII scrubbing with cross-engine regex parity. The synthetic corpus
    carries no PII, so a deterministic contact line (email + URL + phone
    derived from doc_id) is appended first; the redaction then replaces all
    three with typed placeholders and counts raw hits."""
    docs = _t(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"), F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example-"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".org via https://site"), (F.col("doc_id") % 5).cast("string"),
        F.lit(".example/page or call +1 555-01"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"))
    return docs.select("doc_id", tx.redact_pii(aug).alias("clean"),
                       tx.pii_count(aug).alias("n_pii"))


# repetition_profile (r10): Gopher char-fraction battery — top-gram
# numerators are cnt·(gram chars − separators); the dup-5gram
# numerator marks the UNION of covered word positions (DISTINCT
# (doc, q)) before summing char lengths, so overlaps count once;
# all fixed-point ppm BIGINTs, ties cnt DESC then gram ASC
@gate(oracle=r"""
        WITH rw AS MATERIALIZED (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
          FROM documents WHERE trim(text) != ''),
        rbase AS (
          SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
                 CAST(list_sum(list_transform(ws, w -> length(w)))
                      AS BIGINT) AS word_chars
          FROM rw),
        g2 AS (
          SELECT doc_id, array_to_string(ws[p:p+1], ' ') AS gram
          FROM rw, LATERAL (SELECT unnest(generate_series(1,
                              len(ws) - 1)) AS p) t
          WHERE len(ws) >= 2),
        t2 AS (
          SELECT doc_id, cnt * (length(gram) - 1) AS num2 FROM (
            SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS cnt,
                   row_number() OVER (PARTITION BY doc_id
                     ORDER BY count(*) DESC, gram ASC) AS rn
            FROM g2 GROUP BY doc_id, gram) WHERE rn = 1),
        g3 AS (
          SELECT doc_id, array_to_string(ws[p:p+2], ' ') AS gram
          FROM rw, LATERAL (SELECT unnest(generate_series(1,
                              len(ws) - 2)) AS p) t
          WHERE len(ws) >= 3),
        t3 AS (
          SELECT doc_id, cnt * (length(gram) - 2) AS num3 FROM (
            SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS cnt,
                   row_number() OVER (PARTITION BY doc_id
                     ORDER BY count(*) DESC, gram ASC) AS rn
            FROM g3 GROUP BY doc_id, gram) WHERE rn = 1),
        g5 AS MATERIALIZED (
          SELECT doc_id, CAST(p AS BIGINT) AS p,
                 array_to_string(ws[p:p+4], ' ') AS gram
          FROM rw, LATERAL (SELECT unnest(generate_series(1,
                              len(ws) - 4)) AS p) t
          WHERE len(ws) >= 5),
        d5 AS (
          SELECT doc_id, gram FROM g5
          GROUP BY doc_id, gram HAVING count(*) > 1),
        m5 AS (
          SELECT DISTINCT g.doc_id, q
          FROM g5 g JOIN d5 USING (doc_id, gram),
               LATERAL (SELECT unnest(generate_series(g.p, g.p + 4))
                        AS q) t),
        n5 AS (
          SELECT m5.doc_id,
                 CAST(sum(length(ws[CAST(q AS INT)])) AS BIGINT) AS numd
          FROM m5 JOIN rw ON rw.doc_id = m5.doc_id
          GROUP BY m5.doc_id)
        SELECT b.doc_id, b.n_words, b.word_chars,
               CAST(coalesce(t2.num2, 0) * 1000000 // b.word_chars
                    AS BIGINT) AS top2_char_ppm,
               CAST(coalesce(t3.num3, 0) * 1000000 // b.word_chars
                    AS BIGINT) AS top3_char_ppm,
               CAST(coalesce(n5.numd, 0) * 1000000 // b.word_chars
                    AS BIGINT) AS dup5_char_ppm
        FROM rbase b
        LEFT JOIN t2 ON b.doc_id = t2.doc_id
        LEFT JOIN t3 ON b.doc_id = t3.doc_id
        LEFT JOIN n5 ON b.doc_id = n5.doc_id""")
def q_repetition_profile(spark, sf_dir):
    """Gopher character-fraction repetition battery
    (functions.text.repetition_profile, r10): per doc the exact-ppm
    char fractions of the single most frequent 2-/3-gram and of ALL
    duplicated 5-grams — the latter by position marking (union of
    covered word positions), so overlapping duplicates are counted
    once, Rae et al.'s "characters contained within" semantics.
    Complements gram_repetition (top-bigram count fraction). All
    integer arithmetic; ties on gram count break by gram ASC (binary
    collation both engines)."""
    docs = _t(spark, sf_dir, "documents")
    return tx.repetition_profile(docs)


# the full filter chain composes the already-oracled stage SQLs as
# subqueries (DuckDB allows WITH inside a derived table)
@gate(oracle=f"""
        SELECT d.doc_id
        FROM documents d
        JOIN ({_QUALITY_FILTER_ORACLE}) q ON d.doc_id = q.doc_id AND q.keep
        JOIN ({_LANG_ID_ORACLE}) l ON d.doc_id = l.doc_id AND l.lang_pred = 'en'
        LEFT JOIN ({_GRAM_REPETITION_ORACLE}) r ON d.doc_id = r.doc_id
        WHERE (r.rep_ratio IS NULL OR r.rep_ratio <= 0.2)
          AND d.doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))""")
def q_corpus_keep(spark, sf_dir):
    """The whole pretraining filter chain as one declarative plan: quality
    rules AND language-ID AND repetition cap AND exact-dedup representative
    — the composition a real corpus build runs, with every stage reusing
    the individually-oracled operator."""
    docs = _t(spark, sf_dir, "documents")
    # quality + lang-ID are row-local expressions: chain them onto ONE scan
    # (no joins); only the aggregate-shaped stages (repetition, dedup
    # representatives) join, and each of those shuffles a compact key.
    base = (tx.lang_id(tx.quality_score(docs, "text"))
            .filter(F.col("keep") & (F.col("lang_pred") == "en"))
            .select("doc_id"))
    rep = tx.gram_repetition(docs, n=2).select(F.col("doc_id").alias("__rd"),
                                               "rep_ratio")
    reps = dd.dedup_exact(docs).select(F.col("doc_id").alias("__kid"))
    return (base
            .join(rep, F.col("doc_id") == F.col("__rd"), "left")
            .filter(F.col("rep_ratio").isNull() | (F.col("rep_ratio") <= 0.2))
            .join(reps, F.col("doc_id") == F.col("__kid"), "leftsemi")
            .select("doc_id"))


@gate(oracle="""
            SELECT token, count(*) AS n FROM (
              SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
              FROM documents)
            GROUP BY token ORDER BY n DESC, token ASC LIMIT 20""")
def q_top_tokens(spark, sf_dir):
    """Explode (R1 flatten) + count + deterministic top-20."""
    docs = _t(spark, sf_dir, "documents")
    return (docs.select(F.explode(tx.tokens(F.col("text"))).alias("token"))
            .groupBy("token").agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), F.asc("token"))
            .limit(20))


@gate(oracle=f"""
            SELECT doc_id,
                   CASE WHEN trim(text) = '' THEN 0 ELSE len({_TOK}) END AS n_tokens,
                   round(CASE WHEN (CASE WHEN trim(text) = '' THEN 0 ELSE len({_TOK}) END) > 0
                         THEN CAST(list_sum(list_transform({_TOK}, x -> length(x))) AS DOUBLE)
                              / (CASE WHEN trim(text) = '' THEN 0 ELSE len({_TOK}) END)
                         END, 6) AS mean_word_len,
                   round(CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
                         / greatest(length(text), 1), 6) AS punct_ratio,
                   len(list_intersect({_TOK},
                       {tx.LANG_STOPWORDS['en']!r})) AS distinct_stopwords
            FROM documents""".replace('"', "'"))
def q_text_quality(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (tx.quality_features(docs, "text")
            .select("doc_id", "n_tokens", "mean_word_len", "punct_ratio",
                    "distinct_stopwords"))


@gate(oracle=f"""
            SELECT doc_id,
                   CASE WHEN trim(text) = '' THEN 0 ELSE len({_TOK}) END AS n_tokens,
                   CAST(list_sum(list_transform({_TOK},
                          x -> CAST(ceil(length(x) / 4.0) AS BIGINT)))
                        + length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
                        AS BIGINT) AS n_subwords
            FROM documents""")
def q_token_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        tx.token_count("text").alias("n_tokens"),
        tx.bpe_ish_token_count("text").alias("n_subwords"))


# vocab_growth (r10): Heaps-law curve — decile of a doc id is
# (id·10) // (max+1) + 1; types bucket at their min-doc-id first
# appearance; cumulative sums over the 10-row bucket table
@gate(oracle=f"""
        WITH vo AS (
          SELECT doc_id, w AS word FROM (
            SELECT doc_id, unnest({_TOK}) AS w FROM documents)
          WHERE w != ''),
        vmax AS (SELECT CAST(max(doc_id) AS BIGINT) AS maxd
                 FROM documents),
        vtypes AS (
          SELECT CAST(fd * 10 // (maxd + 1) + 1 AS BIGINT) AS bucket,
                 CAST(count(*) AS BIGINT) AS t
          FROM (SELECT word, min(doc_id) AS fd FROM vo GROUP BY word),
               vmax
          GROUP BY 1),
        vtoks AS (
          SELECT CAST(doc_id * 10 // (maxd + 1) + 1 AS BIGINT) AS bucket,
                 CAST(count(*) AS BIGINT) AS k
          FROM vo, vmax GROUP BY 1),
        vdocs AS (
          SELECT CAST(doc_id * 10 // (maxd + 1) + 1 AS BIGINT) AS bucket,
                 CAST(count(*) AS BIGINT) AS d
          FROM documents, vmax GROUP BY 1)
        SELECT bucket,
               CAST(sum(coalesce(vdocs.d, 0)) OVER w AS BIGINT) AS n_docs,
               CAST(sum(coalesce(vtoks.k, 0)) OVER w AS BIGINT)
                 AS n_tokens,
               CAST(sum(coalesce(vtypes.t, 0)) OVER w AS BIGINT)
                 AS n_types
        FROM vdocs
        LEFT JOIN vtoks USING (bucket)
        LEFT JOIN vtypes USING (bucket)
        WINDOW w AS (ORDER BY bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""")
def q_vocab_growth(spark, sf_dir):
    """Heaps-law type/token growth curve (functions.text.vocab_growth,
    r10): cumulative docs / tokens / distinct types per doc-id decile —
    the corpus diagnostic behind dedup and data-mixing decisions (a
    flattening type curve = diminishing new vocabulary). Types are
    counted at their FIRST appearance (min doc id), so the whole curve
    costs one corpus scan + vocab-sized aggregations, never a
    per-prefix distinct; cumulative sums run in a 10-row window."""
    docs = _t(spark, sf_dir, "documents")
    return tx.vocab_growth(docs, buckets=10)


# Zipf slope: integer OLS over floor-1e6-ln points; HUGEINT algebra,
# negated-and-clamped dividend (div/| // | agree only at >= 0)
@gate(oracle=f"""
        WITH tok AS (
            SELECT lang, unnest({_TOK}) AS t
            FROM documents WHERE trim(text) != ''),
        cnt AS (SELECT lang, t, count(*) AS c FROM tok GROUP BY lang, t),
        rk AS (
            SELECT lang, c, row_number() OVER (
                PARTITION BY lang ORDER BY c DESC, t ASC) AS r
            FROM cnt),
        pts AS (
            SELECT lang,
                   CAST(floor(1000000 * ln(r)) AS HUGEINT) AS x,
                   CAST(floor(1000000 * ln(c)) AS HUGEINT) AS y
            FROM rk WHERE r <= 1000),
        agg AS (
            SELECT lang, count(*)::HUGEINT AS n, SUM(x) AS sx,
                   SUM(y) AS sy, SUM(x * y) AS sxy, SUM(x * x) AS sxx
            FROM pts GROUP BY lang HAVING count(*) >= 2)
        SELECT lang, CAST(n AS BIGINT) AS n_points,
               CAST(greatest(-(n * sxy - sx * sy), 0::HUGEINT) * 1000000
                    // (n * sxx - sx * sx) AS BIGINT) AS s_ppm
        FROM agg""")
def q_zipf_slope(spark, sf_dir):
    """Zipf exponent per language (functions.text.zipf_slope, r10): OLS
    of floor-1e6-ln frequency on floor-1e6-ln rank over the top-1000
    types — integer regression algebra over the two audited ln floors
    (ranks 1..1000 exhaustively margin-checked; observed counts checked
    per corpus), negated-and-clamped so the integral div never sees a
    negative dividend (Spark div truncates, DuckDB // floors — they
    agree only at ≥ 0). The Heaps-curve (vocab_growth) companion."""
    docs = _t(spark, sf_dir, "documents")
    return tx.zipf_slope(docs, group_col="lang", max_rank=1000)


# greedy decode: argmax-next table (row_number over count desc, tok
# asc — a total order, so both engines pick the same row), walked
# with WITH RECURSIVE from the top-20 unigram seeds
@gate(oracle=f"""
        WITH RECURSIVE base AS (
            SELECT {_TOK} AS w FROM documents WHERE trim(text) != ''),
        tok AS (SELECT unnest(w) AS t FROM base),
        seeds AS (
            SELECT t AS seed FROM (
                SELECT t, count(*) AS c FROM tok GROUP BY t
                ORDER BY c DESC, t ASC LIMIT 20)),
        pr AS (
            SELECT s.a AS a, s.b AS b FROM (
                SELECT unnest(list_transform(range(1, len(w)),
                              i -> {{'a': w[i], 'b': w[i+1]}})) AS s
                FROM base WHERE len(w) >= 2)),
        bg AS (SELECT a, b, count(*) AS n FROM pr GROUP BY a, b),
        nxt AS (
            SELECT a, b FROM (
                SELECT a, b, row_number() OVER (
                    PARTITION BY a ORDER BY n DESC, b ASC) AS rn
                FROM bg) WHERE rn = 1),
        walk AS (
            SELECT seed, CAST(0 AS BIGINT) AS step, seed AS tok FROM seeds
            UNION ALL
            SELECT w.seed, w.step + 1, n.b
            FROM walk w JOIN nxt n ON w.tok = n.a
            WHERE w.step < 8)
        SELECT seed, step, tok FROM walk""")
def q_lm_greedy_decode(spark, sf_dir):
    """Greedy (temperature-0) decoding from the corpus bigram table
    (functions.text.lm_greedy_chain, r10): next(a) = argmax_b c(a,b)
    with lexicographic tie-break, walked 8 hops from the 20 most
    frequent tokens. The transition table is one aggregation + one
    window; each hop broadcasts the ≤20-row frontier — the walk is
    metadata-sized however big the corpus. Oracle replays it with
    WITH RECURSIVE over the same argmax table."""
    docs = _t(spark, sf_dir, "documents")
    return tx.lm_greedy_chain(docs, seeds_k=20, steps=8)


# Kneser-Ney bigram LM: exact integer rational over the common
# denominator 4*c_a*N_bb (D = 3/4); HUGEINT replays Spark's
# DECIMAL product + integral div bit-for-bit — no float anywhere
@gate(oracle=f"""
        WITH base AS (
            SELECT {_TOK} AS w FROM documents WHERE trim(text) != ''),
        pr AS (
            SELECT s.a AS a, s.b AS b FROM (
                SELECT unnest(list_transform(range(1, len(w)),
                              i -> {{'a': w[i], 'b': w[i+1]}})) AS s
                FROM base WHERE len(w) >= 2)),
        bg AS (SELECT a, b, count(*) AS n_pair FROM pr GROUP BY a, b),
        ctx AS (SELECT a, sum(n_pair) AS ca, count(*) AS n1p
                FROM bg GROUP BY a),
        cont AS (SELECT b, count(*) AS nc FROM bg GROUP BY b),
        nbb AS (SELECT count(*) AS t FROM bg)
        SELECT bg.a AS tok_a, bg.b AS tok_b,
               CAST(bg.n_pair AS BIGINT) AS n_pair,
               CAST((CAST(1000000000 AS HUGEINT)
                     * (CAST(greatest(4 * bg.n_pair - 3, 0) AS HUGEINT)
                          * nbb.t
                        + CAST(3 AS HUGEINT) * ctx.n1p * cont.nc))
                    // (CAST(4 AS HUGEINT) * ctx.ca * nbb.t)
                 AS BIGINT) AS p_ppb
        FROM bg JOIN ctx ON bg.a = ctx.a JOIN cont ON bg.b = cont.b
        CROSS JOIN nbb
        WHERE bg.n_pair >= 5""")
def q_kn_bigram_lm(spark, sf_dir):
    """Interpolated Kneser-Ney bigram LM (functions.text.kn_bigram_probs,
    r10) with the fixed D = 3/4 discount — unlike the add-one lm_score
    there is NO logarithm anywhere: the published p_ppb is an exact
    integer rational over the common denominator 4·c_a·N_bb, so the
    DuckDB oracle replays the whole smoothed model in HUGEINT and the
    hash-match certifies discounting, continuation counts, and
    interpolation weights bit-for-bit. Output pruned to pairs seen ≥ 5
    times (model counts keep every pair)."""
    docs = _t(spark, sf_dir, "documents")
    return tx.kn_bigram_probs(docs, min_count=5)


# temperature quotas: p = n/N (one IEEE division), sqrt (correctly
# rounded in both engines), floor(·1e12) BIGINT, then ALL-INTEGER
# budget*w DIV sum(w) — replayed verbatim
@gate(oracle="""
        WITH c AS (SELECT source, count(*) AS n_docs
                   FROM documents GROUP BY source),
        n AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS nt FROM c),
        w AS (SELECT source, n_docs,
                     CAST(floor(sqrt(n_docs / nt) * 1000000000000.0)
                          AS BIGINT) AS wq
              FROM c, n)
        SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
               CAST(CAST(300 AS HUGEINT) * wq // (SELECT sum(wq) FROM w)
                 AS BIGINT) AS quota
        FROM w""")
def q_temperature_quotas(spark, sf_dir):
    """Temperature-scaled mixture quotas (functions.chunking.
    temperature_quotas, α = 0.5, budget 300) — the multilingual-corpus
    rebalancing rule (sample ∝ share^α; α<1 upsamples the tail). Exact
    cross-engine arithmetic: one IEEE division + correctly-rounded sqrt,
    integerized to BIGINT before the all-integer floor(budget·w DIV Σw)."""
    docs = _t(spark, sf_dir, "documents")
    return ck.temperature_quotas(docs, "source", budget=300, alpha=0.5)


@gate(oracle="""
        WITH c AS (SELECT source, count(*) AS n_docs
                   FROM documents GROUP BY source),
        n AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS nt FROM c),
        w AS (SELECT source, n_docs,
                     CAST(floor(sqrt(n_docs / nt) * 1000000000000.0)
                          AS BIGINT) AS wq
              FROM c, n),
        q AS (SELECT source,
                     CAST(CAST(300 AS HUGEINT) * wq
                       // (SELECT sum(wq) FROM w) AS BIGINT) AS quota
              FROM w),
        r AS (SELECT doc_id, source, lang,
                     row_number() OVER (PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
              FROM documents)
        SELECT r.doc_id, r.source, r.lang
        FROM r JOIN q ON r.source IS NOT DISTINCT FROM q.source
        WHERE rk <= quota""")
def q_temperature_sample(spark, sf_dir):
    """End-to-end temperature sampling (functions.chunking.
    temperature_sample): the α=0.5/300-budget quotas drive a per-source
    deterministic md5-rank selection — the complete "build a rebalanced
    training mixture" op. Membership is a pure function of the data, so
    the oracle replays quota arithmetic + rank in SQL."""
    docs = _t(spark, sf_dir, "documents")
    return (ck.temperature_sample(docs, "source", budget=300, alpha=0.5)
            .select("doc_id", "source", "lang"))


# quota_sample: same deterministic md5 shuffle rank per stratum
@gate(oracle="""
        WITH r AS (
          SELECT doc_id, lang,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
          FROM documents WHERE lang IN ('en', 'es', 'fr'))
        SELECT doc_id, lang FROM r
        WHERE rk <= CASE lang WHEN 'en' THEN 40 WHEN 'es' THEN 25
                    ELSE 500 END""")
def q_quota_sample(spark, sf_dir):
    """Fixed-count per-stratum sampling (functions.chunking.quota_sample):
    exactly N docs per language chosen by ascending md5(doc_id) — the
    deterministic shuffle that makes a data-mixing quota reproducible
    across engines. Quota larger than the stratum (fr: 500) keeps the
    whole stratum; absent strata (zh, de) drop."""
    docs = _t(spark, sf_dir, "documents")
    return ck.quota_sample(docs, {"en": 40, "es": 25, "fr": 500},
                           strata_col="lang").select("doc_id", "lang")


# mixture_repeats: cuts computed with the IDENTICAL Python float
# arithmetic the operator uses ((wt - floor) * 16^8 floored), so the
# fractional-bucket membership is bit-for-bit the same rule
def _mix(wt: float) -> tuple[int, str]:
    base = int(wt)
    return base, format(min(int((wt - base) * 16 ** 8), 16 ** 8 - 1),
                        "08x")


_b_en, _c_en = _mix(2.3)
_b_es, _c_es = _mix(0.5)
_bucket = "substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)"


@gate(oracle=f"""
        SELECT doc_id, lang,
               CAST(CASE lang
                 WHEN 'en' THEN {_b_en} + CASE WHEN {_bucket} < '{_c_en}'
                                          THEN 1 ELSE 0 END
                 WHEN 'es' THEN {_b_es} + CASE WHEN {_bucket} < '{_c_es}'
                                          THEN 1 ELSE 0 END
                 WHEN 'zh' THEN 0
                 ELSE 1 END AS BIGINT) AS n_repeats
        FROM documents""")
def q_mixture_repeats(spark, sf_dir):
    """Epoch-mixture repeat counts (functions.chunking.mixture_repeats):
    weight 2.3 → every doc twice, a deterministic 30% md5-bucket three
    times; fractional-only and zero weights exercised too. Row-local
    arithmetic, reproduced exactly in the oracle."""
    docs = _t(spark, sf_dir, "documents")
    return ck.mixture_repeats(
        docs, {"en": 2.3, "es": 0.5, "zh": 0.0},
        strata_col="lang").select("doc_id", "lang", "n_repeats")


# round-4 training-pipeline ops: chunking / hash sampling / packing.
# stride 12 = size 16 - overlap 4; duckdb range() excludes its stop, so
# range(1, n+1, 12) = Spark sequence(1, n, 12); list slice w[s:s+15] is
# 1-based inclusive = Spark slice(w, s, 16).
_DOC_CHUNKS_ORACLE = f"""
        WITH t AS (
            SELECT doc_id, {_TOK} AS w,
                   CASE WHEN trim(text) = '' THEN 0 ELSE len({_TOK}) END AS n
            FROM documents
        ), s AS (
            SELECT doc_id, w, n, unnest(range(1, n + 1, 12)) AS start
            FROM t WHERE n > 0
        )
        SELECT doc_id,
               CAST((start - 1) // 12 AS BIGINT) AS chunk_id,
               array_to_string(w[start:start+15], ' ') AS chunk_text,
               CAST(least(16, n - start + 1) AS BIGINT) AS n_tokens
        FROM s"""


@gate(oracle=_DOC_CHUNKS_ORACLE)
def q_doc_chunks(spark, sf_dir):
    """Context-window chunking: overlapping 16-token windows (stride 12)
    over every document. Map-only (split/sequence/posexplode/slice all
    codegen); chunking 100 TB is a pure scan."""
    docs = _t(spark, sf_dir, "documents")
    out = ck.doc_chunks(docs, size=16, overlap=4)
    return out.select("doc_id",
                      F.col("chunk_id").cast("long").alias("chunk_id"),
                      "chunk_text",
                      F.col("n_tokens").cast("long").alias("n_tokens"))


# the UDTF path must equal the Catalyst path bit-for-bit
@gate(oracle=_DOC_CHUNKS_ORACLE)
def q_doc_chunks_udtf(spark, sf_dir):
    """Chunking through Spark's Python UDTF API (SQL surface:
    FROM docs, LATERAL chunk_tokens(text, size, stride)) — the same
    overlapping-window semantics as doc_chunks, verified against the SAME
    oracle, so the two engine paths (pure-Catalyst slice/explode vs
    table-function) are pinned equal."""
    from bqetl_spark.functions.chunking import chunk_tokens_udtf

    spark.udtf.register("chunk_tokens", chunk_tokens_udtf())
    _t(spark, sf_dir, "documents").createOrReplaceTempView("__docs_udtf")
    return spark.sql("""
        SELECT doc_id, c.chunk_id, c.chunk_text, c.n_tokens
        FROM __docs_udtf, LATERAL chunk_tokens(text, 16, 12) c""")


# per-stratum md5 cuts: 0.5 -> 80000000, 0.1 -> 19999999 (floor of
# 0.1*16^8); rate 1.0 keeps the stratum outright, rate 0 keeps none
@gate(oracle="""
        SELECT doc_id, lang, source
        FROM documents
        WHERE CASE lang
                WHEN 'de' THEN TRUE
                WHEN 'en' THEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '80000000'
                WHEN 'fr' THEN FALSE
                ELSE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '19999999'
              END""")
def q_stratified_sample(spark, sf_dir):
    """Training-mix balancing: per-language deterministic sampling rates
    (keep all de, half of en, drop fr, 10% everything else) via the same
    md5 membership rule as sample_hash — row-local, reproducible."""
    docs = _t(spark, sf_dir, "documents")
    out = ck.stratified_hash_sample(
        docs, rates={"en": 0.5, "de": 1.0, "fr": 0.0},
        strata_col="lang", default_rate=0.1)
    return out.select("doc_id", "lang", "source")


# 0.3 * 16^8 floors to 0x4ccccccc; lowercase-hex md5 compares the same
# lexicographically in both engines
@gate(oracle="""
        SELECT doc_id, lang, source, n_chars
        FROM documents
        WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '4ccccccc'""")
def q_sample_hash(spark, sf_dir):
    """Deterministic 30% corpus sample by md5(doc_id) — reproducible across
    engines/runs/retries (rand() is none of those); membership is a
    row-local filter pushed to the scan."""
    docs = _t(spark, sf_dir, "documents")
    return (ck.hash_sample(docs, rate=0.3)
            .select("doc_id", "lang", "source", "n_chars"))


@gate(oracle=f"""
        WITH t AS (
            SELECT doc_id, source,
                   CASE WHEN trim(text) = '' THEN 0 ELSE len({_TOK}) END AS n
            FROM documents
        )
        SELECT doc_id, source,
               CAST((SUM(n) OVER (PARTITION BY source ORDER BY doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - n) // 256 AS BIGINT) AS pack_id,
               CAST(n AS BIGINT) AS n_tokens
        FROM t""")
def q_pack_sequences(spark, sf_dir):
    """Fixed-budget sequence packing (256 tokens) by exclusive running sum
    within each source, doc_id order. Integer window arithmetic — exact and
    cluster-size-independent; the only shuffle is the window partition."""
    docs = _t(spark, sf_dir, "documents")
    out = ck.pack_sequences(docs, budget=256)
    return out.select("doc_id", "source", "pack_id",
                      F.col("n_tokens").cast("long").alias("n_tokens"))


# PMI collocations: ratio in the FIXED association
# ((c_ab/c_a)·(M/c_b))·(M/B) — identical IEEE operand pairs on both
# engines; only ln wobbles (≤1 ulp, margin-audited)
@gate(oracle=f"""
        WITH base AS (
            SELECT {_TOK} AS w FROM documents WHERE trim(text) != ''),
        tok AS (SELECT unnest(w) AS t FROM base),
        m AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM tok),
        pr AS (
            SELECT s.a AS a, s.b AS b FROM (
                SELECT unnest(list_transform(range(1, len(w)),
                              i -> {{'a': w[i], 'b': w[i+1]}})) AS s
                FROM base WHERE len(w) >= 2)),
        bt AS (SELECT CAST(count(*) AS DOUBLE) AS btot FROM pr),
        uni AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
        bg AS (SELECT a, b, count(*) AS n_pair
               FROM pr GROUP BY a, b HAVING count(*) >= 5)
        SELECT bg.a AS tok_a, bg.b AS tok_b,
               CAST(bg.n_pair AS BIGINT) AS n_pair,
               CAST(floor(1000000.0 * ln(
                   ((bg.n_pair / ua.c) * (m.m / ub.c)) * (m.m / bt.btot)))
                 AS BIGINT) AS pmi_e6
        FROM bg
        JOIN uni ua ON bg.a = ua.t
        JOIN uni ub ON bg.b = ub.t
        CROSS JOIN m CROSS JOIN bt""")
def q_bigram_pmi(spark, sf_dir):
    """Collocation extraction via integerized PMI over adjacent token
    pairs (functions.text.bigram_pmi, min_count=5) — the tokenizer-merge
    / multi-word-unit signal. Fixed-association ratio + floor(1e6·ln)
    keeps the gate exact; margins audited in tests."""
    docs = _t(spark, sf_dir, "documents")
    return tx.bigram_pmi(docs, min_count=5)


# skew report: integer ppm share (n·10^6 div total) — exact
@gate(oracle="""
        SELECT CAST(user_id AS VARCHAR) AS key,
               CAST(count(*) AS BIGINT) AS n,
               CAST((count(*) * 1000000) // (SELECT count(*) FROM events)
                 AS BIGINT) AS share_ppm
        FROM events GROUP BY user_id
        ORDER BY n DESC, key ASC NULLS FIRST
        LIMIT 20""")
def q_key_skew(spark, sf_dir):
    """Top-20 hottest join keys with exact ppm share
    (functions.text.key_skew_report over events.user_id) — the diagnostic
    that picks between AQE skew-join, adaptive salting, and frequency
    guards. Integer share arithmetic makes it exactly oracle-able."""
    events = _t(spark, sf_dir, "events")
    return tx.key_skew_report(events, "user_id", k=20)


# A-Res weighted sampling: priority key ln(u)/w with u an exact double
# from the 60-bit md5 prefix; only MEMBERSHIP is compared (the float
# key stays internal), and the n-th/(n+1)-th gap is margin-audited
@gate(oracle="""
        SELECT doc_id, lang, source, n_chars
        FROM documents
        WHERE n_chars IS NOT NULL AND n_chars > 0
        ORDER BY ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)
                    / 1152921504606846976.0) / CAST(n_chars AS DOUBLE) DESC,
                 doc_id ASC
        LIMIT 200""")
def q_weighted_sample(spark, sf_dir):
    """Efraimidis-Spirakis weighted sampling without replacement
    (functions.chunking.weighted_sample): top-200 docs by priority
    u^(1/n_chars) with u an md5-derived exact double — the deterministic
    training-mixture sampler. Membership (not the float key) is the gate;
    the cutoff-gap margin is audited in tests."""
    docs = _t(spark, sf_dir, "documents")
    return (ck.weighted_sample(docs, "n_chars", n=200)
            .select("doc_id", "lang", "source", "n_chars"))


# KL drift: per-term log-ratio integerized as floor(1e6·ln((c/d)·(M/n_g)))
# — the ratio is two IEEE divisions + one multiply in a FIXED
# association (identical double on both engines); Σ c·u is BIGINT.
@gate(oracle=f"""
        WITH tok AS (
            SELECT source AS grp, unnest({_TOK}) AS tok
            FROM documents WHERE trim(text) != ''),
        m AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM tok),
        cts AS (SELECT grp, tok, count(*) AS c FROM tok GROUP BY grp, tok),
        ng AS (SELECT grp, SUM(c) AS n_g FROM cts GROUP BY grp),
        dt AS (SELECT tok, SUM(c) AS d FROM cts GROUP BY tok)
        SELECT cts.grp AS source,
               CAST(ng.n_g AS BIGINT) AS n_tokens,
               CAST(SUM(cts.c * CAST(floor(1000000.0
                    * ln((cts.c / dt.d) * (m.m / ng.n_g))) AS BIGINT))
                 AS BIGINT) AS kl_e6,
               CAST(SUM(cts.c * CAST(floor(1000000.0
                    * ln((cts.c / dt.d) * (m.m / ng.n_g))) AS BIGINT))
                 AS BIGINT) / (ng.n_g * 1000000.0) AS kl
        FROM cts
        JOIN dt ON cts.tok = dt.tok
        JOIN ng ON cts.grp = ng.grp
        CROSS JOIN m
        GROUP BY cts.grp, ng.n_g""")
def q_source_divergence(spark, sf_dir):
    """Per-source KL divergence from the corpus unigram distribution
    (functions.text.source_divergence) — the corpus-drift monitor that
    flags distributionally-weird shards. Integerized log-ratios (Σ c·u is
    BIGINT) make the iterative-free analytics oracle exact."""
    docs = _t(spark, sf_dir, "documents")
    return tx.source_divergence(docs, group_col="source")


# bigram-LM perplexity: add-one-smoothed model from the doc_id%10<3
# slice, replayed with the same FIXED integer operands (ctx+V, cb+1)
# so only the margin-audited ln can wobble; the per-doc mean is //
# on non-negative integers = Spark's div.
@gate(oracle=f"""
        WITH base AS (
          SELECT doc_id, {_TOK} AS w FROM documents
          WHERE trim(text) != ''),
        ref AS (SELECT w FROM base WHERE ((doc_id % 10) + 10) % 10 < 3),
        rpr AS (
          SELECT s.a AS a, s.b AS b FROM (
            SELECT unnest(list_transform(range(1, len(w)),
                          i -> {{'a': w[i], 'b': w[i+1]}})) AS s
            FROM ref WHERE len(w) >= 2)),
        bg AS (SELECT a, b, count(*) AS cb FROM rpr GROUP BY a, b),
        ctx AS (SELECT a, count(*) AS cx FROM rpr GROUP BY a),
        v AS (SELECT count(DISTINCT t) AS v FROM (
                SELECT unnest(w) AS t FROM ref)),
        dpr AS (
          SELECT doc_id, s.a AS a, s.b AS b FROM (
            SELECT doc_id, unnest(list_transform(range(1, len(w)),
                          i -> {{'a': w[i], 'b': w[i+1]}})) AS s
            FROM base WHERE len(w) >= 2)),
        sc AS (
          SELECT d.doc_id,
                 CAST(floor(1000000.0 * ln(
                      CAST(coalesce(ctx.cx, 0) + v.v AS DOUBLE)
                      / CAST(coalesce(bg.cb, 0) + 1 AS DOUBLE)))
                   AS BIGINT) AS nll
          FROM dpr d CROSS JOIN v
          LEFT JOIN bg ON d.a = bg.a AND d.b = bg.b
          LEFT JOIN ctx ON d.a = ctx.a
          WHERE v.v > 0)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(nll) // count(*) AS BIGINT) AS nll_ppm
        FROM sc GROUP BY doc_id""")
def q_lm_perplexity(spark, sf_dir):
    """Bigram-LM perplexity scoring (functions.text.lm_score, r7) —
    the CCNet/RefinedWeb quality filter: an add-one-smoothed bigram
    model trained on the doc_id%10<3 reference slice scores every
    document's mean NLL per adjacent pair. nll = floor(1e6·ln((ctx+V)/
    (cb+1))) is the integerized-ln discipline — the quotient of two
    identical integers is IEEE-exact on both engines, every observed
    operand pair is floor-margin-audited — and the per-doc mean is an
    exact integer div. Model = two hash aggs over reference pairs;
    scoring = two LEFT equi-joins + one per-doc agg."""
    docs = _t(spark, sf_dir, "documents")
    return tx.lm_score(docs)


# dsir_weights: same md5-bucketed uni+bigram feature stream, same
# add-one-smoothed integer-product quotient inside ln (operand pairs
# margin-audited in tests/test_text.py)
@gate(oracle=r"""
        WITH base AS (SELECT doc_id, {tok} AS w FROM documents
                      WHERE trim(text) != ''),
        f0 AS (
          SELECT doc_id, '1:' || t AS f
          FROM (SELECT doc_id, unnest(w) AS t FROM base)
          UNION ALL
          SELECT doc_id, '2:' || s.a || ' ' || s.b AS f FROM (
            SELECT doc_id, unnest(list_transform(range(1, len(w)),
                           i -> {{'a': w[i], 'b': w[i+1]}})) AS s
            FROM base WHERE len(w) >= 2)),
        feats AS (SELECT doc_id,
                         ('0x' || substr(md5(f), 1, 15))::BIGINT % 8192 AS b,
                         ((doc_id % 10) + 10) % 10 < 3 AS is_ref FROM f0),
        n AS (SELECT count(*) AS nr, count(*) FILTER (is_ref) AS nt
              FROM feats),
        raw AS (SELECT b, count(*) AS cr FROM feats GROUP BY b),
        tgt AS (SELECT b, count(*) AS ct FROM feats WHERE is_ref
                GROUP BY b),
        score AS (SELECT raw.b,
            CAST(floor(1000000.0 * ln(
              CAST((coalesce(tgt.ct, 0) + 1) * (n.nr + 8192) AS DOUBLE) /
              CAST((raw.cr + 1) * (n.nt + 8192) AS DOUBLE))) AS BIGINT) AS s
          FROM raw CROSS JOIN n LEFT JOIN tgt ON raw.b = tgt.b)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
               CAST(sum(s.s) AS BIGINT) AS logw_micro
        FROM feats JOIN score s USING (b) GROUP BY doc_id""".format(
        tok=_TOK))
def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (functions.text.dsir_weights, r7 — Xie
    et al. 2023): log-ratio of target vs raw bag-of-hashed-ngrams
    models, features = word uni+bigrams md5-hashed into 8192 buckets,
    target = the doc_id%10<3 reference slice. Per-bucket score is
    floor(1e6·ln) of a quotient of exact integer products (operand
    pairs margin-audited); model state is O(buckets) — broadcastable at
    any corpus size, which is DSIR's entire scaling point. Map-only
    feature stream + two B-row aggs + one equi-join + per-doc sum."""
    docs = _t(spark, sf_dir, "documents")
    return tx.dsir_weights(docs, buckets=8192)


# n-gram novelty: same clamped 3-gram construction as _GRAMS,
# reference = distinct grams of the id%10<3 slice, exact ppm
@gate(oracle=f"""
        WITH base AS (
          SELECT doc_id, {_TOK} AS w FROM documents
          WHERE trim(text) != ''),
        g AS (SELECT doc_id, unnest({_GRAMS}) AS gr FROM base),
        ref AS (SELECT DISTINCT gr FROM g WHERE ((doc_id % 10) + 10) % 10 < 3),
        st AS (
          SELECT g.doc_id, count(*) AS n_grams,
                 sum(CASE WHEN r.gr IS NOT NULL THEN 1 ELSE 0 END)
                   AS n_seen
          FROM g LEFT JOIN ref r ON g.gr = r.gr
          GROUP BY g.doc_id)
        SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
               CAST(n_seen AS BIGINT) AS n_seen,
               CAST((n_grams - n_seen) * 1000000 // n_grams AS BIGINT)
                 AS novelty_ppm
        FROM st""")
def q_ngram_novelty(spark, sf_dir):
    """N-gram novelty vs the reference slice (functions.text.
    ngram_novelty, r7): the ppm share of each doc's distinct word
    3-grams ABSENT from the doc_id%10<3 slice — contamination's inverse
    signal ("is this doc just recombining reference text?"). One
    explode + one DISTINCT projection + one LEFT equi-join + one agg,
    all exact integer arithmetic; reference docs score exactly 0 by
    construction (pinned)."""
    docs = _t(spark, sf_dir, "documents")
    return tx.ngram_novelty(docs, n=3)


# CCNet tail split: lm_perplexity's CTEs + ntile(3) over the
# deterministic (nll_ppm, doc_id) total order (both engines assign
# the extra rows to the leading tiles — standard ntile).
@gate(oracle=f"""
        WITH base AS (
          SELECT doc_id, {_TOK} AS w FROM documents
          WHERE trim(text) != ''),
        ref AS (SELECT w FROM base WHERE ((doc_id % 10) + 10) % 10 < 3),
        rpr AS (
          SELECT s.a AS a, s.b AS b FROM (
            SELECT unnest(list_transform(range(1, len(w)),
                          i -> {{'a': w[i], 'b': w[i+1]}})) AS s
            FROM ref WHERE len(w) >= 2)),
        bg AS (SELECT a, b, count(*) AS cb FROM rpr GROUP BY a, b),
        ctx AS (SELECT a, count(*) AS cx FROM rpr GROUP BY a),
        v AS (SELECT count(DISTINCT t) AS v FROM (
                SELECT unnest(w) AS t FROM ref)),
        dpr AS (
          SELECT doc_id, s.a AS a, s.b AS b FROM (
            SELECT doc_id, unnest(list_transform(range(1, len(w)),
                          i -> {{'a': w[i], 'b': w[i+1]}})) AS s
            FROM base WHERE len(w) >= 2)),
        sc AS (
          SELECT d.doc_id,
                 CAST(floor(1000000.0 * ln(
                      CAST(coalesce(ctx.cx, 0) + v.v AS DOUBLE)
                      / CAST(coalesce(bg.cb, 0) + 1 AS DOUBLE)))
                   AS BIGINT) AS nll
          FROM dpr d CROSS JOIN v
          LEFT JOIN bg ON d.a = bg.a AND d.b = bg.b
          LEFT JOIN ctx ON d.a = ctx.a
          WHERE v.v > 0),
        per AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
                 CAST(sum(nll) // count(*) AS BIGINT) AS nll_ppm
          FROM sc GROUP BY doc_id),
        j AS (
          SELECT p.doc_id, d.source, p.n_pairs, p.nll_ppm,
                 ntile(3) OVER (PARTITION BY d.source
                                ORDER BY p.nll_ppm ASC, p.doc_id ASC) AS t
          FROM per p JOIN documents d ON p.doc_id = d.doc_id)
        SELECT doc_id, source, n_pairs, nll_ppm,
               CASE WHEN t = 1 THEN 'head' WHEN t = 2 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM j""")
def q_lm_tail_split(spark, sf_dir):
    """CCNet head/middle/tail split (functions.text.lm_tail_split, r7):
    per-source perplexity terciles over the lm_score NLL — 'head' is
    the most reference-like third CCNet keeps for LM training. ntile(3)
    over the deterministic (nll_ppm, doc_id) order replays exactly;
    one window shuffle on the source key on top of lm_score's joins."""
    docs = _t(spark, sf_dir, "documents")
    return tx.lm_tail_split(docs)


# token entropy: integerized-ln discipline (floor(1e6*ln(n/cnt)) with
# observed-pair margin audit); top share and the final div are exact
@gate(oracle=f"""
        WITH tok AS (
          SELECT doc_id, len({_TOK}) AS n, unnest({_TOK}) AS tok
          FROM documents WHERE trim(text) != ''),
        tf AS (
          SELECT doc_id, max(n) AS n, count(*) AS c
          FROM tok GROUP BY doc_id, tok)
        SELECT doc_id,
               CAST(max(n) AS BIGINT) AS n_tokens,
               CAST(sum(c * CAST(floor(1000000 * ln(CAST(n AS DOUBLE) / c))
                                 AS BIGINT)) // max(n) AS BIGINT)
                 AS entropy_ppm,
               CAST(max(c) * 1000000 // max(n) AS BIGINT) AS top_share_ppm
        FROM tf GROUP BY doc_id""")
def q_token_entropy(spark, sf_dir):
    """Per-document unigram entropy + top-token share (functions.text.
    token_entropy, r7) — the diversity/repetition quality pair: low
    entropy or a dominant token flags degenerate text that adjacent
    n-gram repetition misses. entropy_ppm = (Σ cnt·floor(1e6·ln(n/cnt)))
    div n — the integerized-ln discipline with every observed (cnt, n)
    pair margin-audited; top_share_ppm is exact integer arithmetic."""
    docs = _t(spark, sf_dir, "documents")
    return tx.token_entropy(docs)
