"""Trained-model gates: BPE, WordPiece and unigram-LM tokenizers with
their segmentation/fertility composers, and the trained language-id,
quality, tail-LM and corpus-keep classifiers.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bqetl_spark.functions import dedup as dd
from bqetl_spark.functions import text as tx

from bqetl_spark.gates import gate
from bqetl_spark.gates.common import _TOK, _t
from bqetl_spark.gates.text import _GRAM_REPETITION_ORACLE, _LANG_ID_ORACLE


# batch perceptron: three unrolled train iterations (score -> argmax
# -> signed update -> FULL-JOIN weight fold), all-integer; every CTE
# is read more than once -> MATERIALIZED throughout (kcore lesson)
_pc_iter = """
        sc{k} AS MATERIALIZED (
            SELECT d.doc_id, d.lang, c.c AS cls,
                   COALESCE(SUM(t.n * w.w), 0) AS s
            FROM pc_trdocs d
            CROSS JOIN pc_cls c
            LEFT JOIN pc_tr t ON t.doc_id = d.doc_id
            LEFT JOIN w{p} w ON w.c = c.c AND w.b = t.b
            GROUP BY d.doc_id, d.lang, c.c),
        pd{k} AS MATERIALIZED (
            SELECT doc_id, lang, cls AS pred FROM (
                SELECT doc_id, lang, cls, row_number() OVER (
                    PARTITION BY doc_id ORDER BY s DESC, cls ASC) AS rn
                FROM sc{k}) z WHERE rn = 1),
        up{k} AS MATERIALIZED (
            SELECT c, b, SUM(dn) AS dw FROM (
                SELECT p.lang AS c, t.b, t.n AS dn
                FROM pd{k} p JOIN pc_tr t ON p.doc_id = t.doc_id
                WHERE p.pred != p.lang
                UNION ALL
                SELECT p.pred AS c, t.b, -t.n AS dn
                FROM pd{k} p JOIN pc_tr t ON p.doc_id = t.doc_id
                WHERE p.pred != p.lang) u
            GROUP BY c, b),
        w{k} AS MATERIALIZED (
            SELECT COALESCE(w.c, u.c) AS c, COALESCE(w.b, u.b) AS b,
                   COALESCE(w.w, 0) + COALESCE(u.dw, 0) AS w
            FROM w{p} w FULL JOIN up{k} u ON w.c = u.c AND w.b = u.b)"""


# trained quality classifier: the SAME unrolled-iteration template
# (_pc_iter verbatim — the weak label is aliased AS lang so the
# pc_* CTE names line up), over the DSIR uni+bigram stream plus the
# length-bin feature, length-normalized to integer ppm mass
_QUALITY_TRAINED_ORACLE = ("""
        WITH base AS MATERIALIZED (
            SELECT doc_id,
                   CASE WHEN len(w) >= 40
                             AND 10 * list_sum(list_transform(w, x -> length(x)))
                                 <= 48 * len(w)
                             AND 5 * (length(text)
                                      - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                                 <= length(text)
                        THEN 'keep' ELSE 'toss' END AS lang, w
            FROM (SELECT doc_id, text,
                         regexp_split_to_array(trim(text), '\\s+') AS w
                  FROM documents WHERE trim(text) != '')),
        feat AS MATERIALIZED (
            SELECT doc_id, lang,
                   unnest(list_transform(w, t -> '1:' || t)) AS f
            FROM base
            UNION ALL
            SELECT doc_id, lang,
                   unnest(['2:' || w[i] || ' ' || w[i+1]
                           for i in range(1, len(w))]) AS f
            FROM base WHERE len(w) >= 2
            UNION ALL
            SELECT doc_id, lang, '3:' || CAST(len(w) // 8 AS VARCHAR) AS f
            FROM base,
                 LATERAL unnest(range(greatest(len(w) // 4, 1))) AS r(i)),
        rawc AS MATERIALIZED (
            SELECT doc_id, lang, b, count(*) AS c FROM (
                SELECT doc_id, lang,
                       ('0x' || substr(md5(f), 1, 15))::BIGINT % 512 AS b
                FROM feat) g GROUP BY doc_id, lang, b),
        pc_df AS MATERIALIZED (
            SELECT doc_id, lang, b,
                   CAST((c * 1000000) // SUM(c) OVER (PARTITION BY doc_id)
                        AS BIGINT) AS n
            FROM rawc),
        pc_tr AS MATERIALIZED (
            SELECT * FROM pc_df WHERE ((doc_id % 10) + 10) % 10 < 3),
        pc_trdocs AS MATERIALIZED (
            SELECT DISTINCT doc_id, lang FROM pc_tr),
        pc_cls AS MATERIALIZED (SELECT DISTINCT lang AS c FROM pc_tr),
        w0 AS (SELECT CAST(NULL AS VARCHAR) AS c, CAST(NULL AS BIGINT) AS b,
                      CAST(NULL AS BIGINT) AS w WHERE 1 = 0),"""
        + ",".join(_pc_iter.format(k=k, p=k - 1) for k in range(1, 4))
        + """,
        alldocs AS (SELECT DISTINCT doc_id, lang FROM pc_df),
        fin AS MATERIALIZED (
            SELECT d.doc_id, d.lang, c.c AS cls,
                   COALESCE(SUM(t.n * w.w), 0) AS s
            FROM alldocs d CROSS JOIN pc_cls c
            LEFT JOIN pc_df t ON t.doc_id = d.doc_id
            LEFT JOIN w3 w ON w.c = c.c AND w.b = t.b
            GROUP BY d.doc_id, d.lang, c.c)
        SELECT doc_id, lang = 'keep' AS weak_keep,
               cls = 'keep' AS pred_keep, CAST(s AS BIGINT) AS score
        FROM (SELECT doc_id, lang, cls, s, row_number() OVER (
                  PARTITION BY doc_id ORDER BY s DESC, cls ASC) AS rn
              FROM fin) z
        WHERE rn = 1""")


@gate(oracle=_QUALITY_TRAINED_ORACLE)
def q_quality_trained(spark, sf_dir):
    """TRAINED quality classifier (functions.text.quality_perceptron,
    r11): the fastText shape — weak labels from integer-exact Gopher/C4
    rules, hashed uni+bigram+length-bin features length-normalized to
    integer ppm mass, 3 batch-perceptron iterations on the id%10<3
    slice, zero float in training or inference. Closes the quality
    story from hand rules (quality_filter) to the learned model
    production pipelines use (measured 95%/97% train/held-out rule
    agreement at sf0.01). The oracle unrolls the training loop with
    the same MATERIALIZED-CTE scheme as perceptron_langid and
    hash-matches every per-doc label, prediction and winning score."""
    docs = _t(spark, sf_dir, "documents")
    return tx.quality_perceptron(docs, buckets=512, iters=3)


# the curation chain with the TRAINED filter swapped in for the hand
# rules — corpus_keep's composition, quality_trained subquery
_CORPUS_KEEP_TRAINED_ORACLE = f"""
        SELECT d.doc_id
        FROM documents d
        JOIN ({_QUALITY_TRAINED_ORACLE}) q
          ON d.doc_id = q.doc_id AND q.pred_keep
        JOIN ({_LANG_ID_ORACLE}) l
          ON d.doc_id = l.doc_id AND l.lang_pred = 'en'
        LEFT JOIN ({_GRAM_REPETITION_ORACLE}) r ON d.doc_id = r.doc_id
        WHERE (r.rep_ratio IS NULL OR r.rep_ratio <= 0.2)
          AND d.doc_id IN (SELECT min(doc_id) FROM documents
                           GROUP BY md5(text))"""


@gate(oracle=_CORPUS_KEEP_TRAINED_ORACLE)
def q_corpus_keep_trained(spark, sf_dir):
    """The pretraining curation chain with the TRAINED quality model
    swapped in for the hand rules (r11): predicted-keep
    (quality_perceptron) AND language-ID AND repetition cap AND
    exact-dedup representative — corpus_keep's composition upgraded to
    the learned filter production pipelines actually deploy. Every
    stage reuses an individually-oracled operator; the oracle composes
    the certified quality_trained SQL as a subquery."""
    docs = _t(spark, sf_dir, "documents")
    keep = (tx.quality_perceptron(docs, buckets=512, iters=3)
            .filter(F.col("pred_keep")).select("doc_id"))
    lang = (tx.lang_id(docs).filter(F.col("lang_pred") == "en")
            .select(F.col("doc_id").alias("__ld")))
    rep = tx.gram_repetition(docs, n=2).select(
        F.col("doc_id").alias("__rd"), "rep_ratio")
    reps = dd.dedup_exact(docs).select(F.col("doc_id").alias("__kid"))
    return (keep
            .join(lang, F.col("doc_id") == F.col("__ld"), "leftsemi")
            .join(rep, F.col("doc_id") == F.col("__rd"), "left")
            .filter(F.col("rep_ratio").isNull()
                    | (F.col("rep_ratio") <= 0.2))
            .join(reps, F.col("doc_id") == F.col("__kid"), "leftsemi")
            .select("doc_id"))


def _bpe_cte(n_merges: int, emit: str = "merges") -> str:
    """Unrolled BPE training as DuckDB CTEs (same treatment as the
    pagerank / k-means oracle unrolls): v0 = the word-frequency table
    with each word encoded ' c  h  a  r  s  </w> '; then per merge k:
    p_k (integer pair counts), b_k (argmax with count DESC, l ASC, r ASC
    tie-break), v_k (plain replace — identical left-to-right
    non-overlapping scan in both engines). emit='merges' appends the
    final SELECT unioning the n_merges argmax rows; emit='vocab' instead
    returns only the CTE chain INCLUDING v{n} (the fully-merged per-word
    segmentation) for the bpe_segments apply oracle to join."""
    parts = [r"""v0 AS (
          SELECT word, freq,
                 ' ' || array_to_string(list_append(list_transform(
                     generate_series(1, length(word)), i -> word[i]),
                     '</w>'), '  ') || ' ' AS s
          FROM (
            SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
              SELECT unnest(regexp_split_to_array(trim(text), '\s+'))
                     AS word
              FROM documents)
            WHERE word != '' GROUP BY word))"""]
    for k in range(1, n_merges + 1):
        parts.append(f"""p{k} AS (
          SELECT sym[i] AS l, sym[i+1] AS r,
                 CAST(sum(freq) AS BIGINT) AS cnt
          FROM (SELECT string_split(trim(s), '  ') AS sym, freq
                FROM v{k - 1}),
               LATERAL (SELECT unnest(generate_series(1, len(sym) - 1))
                        AS i) t
          GROUP BY 1, 2)""")
        parts.append(f"""b{k} AS (
          SELECT l, r, cnt FROM p{k}
          ORDER BY cnt DESC, l ASC, r ASC LIMIT 1)""")
        if k < n_merges or emit == "vocab":
            # LEFT JOIN ON TRUE + coalesce, NOT a cross join: when the
            # corpus runs out of pairs before merge k (b{k} empty), the
            # vocab must pass through unchanged — a cross join would
            # empty it, which diverges from the trainer's early stop
            # (found by the r7 fuzz tier on tiny random corpora)
            parts.append(f"""v{k} AS (
          SELECT word, freq,
                 coalesce(replace(s, ' ' || b.l || '  ' || b.r || ' ',
                                  ' ' || b.l || b.r || ' '), s) AS s
          FROM v{k - 1} LEFT JOIN b{k} b ON TRUE)""")
    if emit == "vocab":
        # callers join the fully-merged per-word segmentation (v{n})
        return ",\n        ".join(parts)
    union = "\n          UNION ALL ".join(
        f"""SELECT CAST({k} AS BIGINT) AS "rank", l AS "left", """
        f"""r AS "right", l || r AS merged, cnt AS pair_count FROM b{k}"""
        for k in range(1, n_merges + 1))
    return ",\n        ".join(parts) + f"\n        SELECT * FROM ({union})"


# BPE training: 8 iterations unrolled (see _bpe_cte) — argmax pair
# per round is integer-exact with a total-order tie-break, the merge
# replace has identical greedy-left semantics in both engines
@gate(oracle=f"""
        WITH {_bpe_cte(8)}""")
def q_bpe_train(spark, sf_dir):
    """Distributed BPE merge-table training (functions.bpe.bpe_train,
    r7): 8 merges learned from the documents word-frequency table —
    Sennrich's formulation, which collapses the corpus to (word, freq)
    in one shuffle and runs every iteration on that compact table. The
    double-space symbol encoding makes the merge a plain replace with
    identical greedy-left semantics in Spark and DuckDB, pair counts are
    integer sums with a total-order tie-break, so the oracle unrolls the
    8 iterations as CTEs (_bpe_cte) and the driver hash-checks the full
    learned merge table — an ITERATIVE algorithm under a value oracle,
    like pagerank."""
    from bqetl_spark.functions.bpe import bpe_train

    docs = _t(spark, sf_dir, "documents")
    return bpe_train(docs, n_merges=8)


# BPE segmentation: the fully-merged per-word form (v8) IS what
# bpe_apply's chained replaces compute per occurrence, so the oracle
# joins doc tokens to v8 and explodes the double-space split;
# pos = word_pos*1000 + sym_pos, both 0-based on both sides
@gate(oracle=f"""
        WITH {_bpe_cte(8, emit="vocab")},
        dw AS (
          SELECT doc_id, ws[i] AS word,
                 CAST(i - 1 AS BIGINT) AS word_pos
          FROM (SELECT doc_id,
                       regexp_split_to_array(trim(text), '\\s+') AS ws
                FROM documents),
               LATERAL (SELECT unnest(generate_series(1, len(ws)))
                        AS i) t
          WHERE ws[i] != ''
        ), seg AS (
          SELECT word, string_split(trim(s), '  ') AS sym FROM v8
        )
        SELECT dw.doc_id, sym[j] AS token,
               CAST(dw.word_pos * 1000 + (j - 1) AS BIGINT) AS pos
        FROM dw JOIN seg USING (word),
             LATERAL (SELECT unnest(generate_series(1, len(sym)))
                      AS j) u""")
def q_bpe_segments(spark, sf_dir):
    """BPE segmentation of the corpus with the merges just learned
    (functions.bpe.bpe_apply after bpe_train, r7): one row per subword
    occurrence (doc_id, token, pos). The apply side is map-only chained
    replaces; the oracle reuses the unrolled-training CTEs' final vocab
    (v8) — per-word segmentation is a pure function of the word, so
    joining tokens to v8 replays the apply exactly. Certifies the
    LEARN→APPLY loop end to end, not just the merge table."""
    from bqetl_spark.functions.bpe import bpe_apply, bpe_train

    docs = _t(spark, sf_dir, "documents")
    merges = [(r["left"], r["right"])
              for r in bpe_train(docs, n_merges=8).orderBy("rank").collect()]
    return bpe_apply(docs, merges)


# bpe_fertility (r8): the bpe_segments stream + two integer aggs
@gate(oracle=f"""
        WITH {_bpe_cte(8, emit="vocab")},
        dw AS (
          SELECT doc_id, ws[i] AS word,
                 CAST(i - 1 AS BIGINT) AS word_pos
          FROM (SELECT doc_id,
                       regexp_split_to_array(trim(text), '\\s+') AS ws
                FROM documents),
               LATERAL (SELECT unnest(generate_series(1, len(ws)))
                        AS i) t
          WHERE ws[i] != ''
        ), seg AS (
          SELECT word, len(string_split(trim(s), '  ')) AS nsym FROM v8
        ), pw AS (
          SELECT dw.doc_id, dw.word_pos, seg.nsym
          FROM dw JOIN seg USING (word))
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(nsym) AS BIGINT) AS n_subwords,
               CAST(sum(nsym) * 1000000 // count(*) AS BIGINT)
                 AS fertility_ppm,
               CAST(max(nsym) AS BIGINT) AS max_word_subwords
        FROM pw GROUP BY doc_id""")
def q_bpe_fertility(spark, sf_dir):
    """Tokenizer fertility diagnostics (functions.bpe.bpe_fertility,
    r8): per document, words / subword tokens / fertility (subwords
    per word, exact ppm) / worst single word, under the 8 merges just
    learned — the post-training eval every tokenizer pipeline runs
    (fertility ~1 on covered text, blows up on OOV). Oracle reuses the
    unrolled-training CTEs' final vocab (v8) + the same two integer
    aggregations, so the LEARN→APPLY→MEASURE loop is hash-certified
    end to end."""
    from bqetl_spark.functions.bpe import bpe_fertility, bpe_train

    docs = _t(spark, sf_dir, "documents")
    merges = [(r["left"], r["right"])
              for r in bpe_train(docs, n_merges=8).orderBy("rank").collect()]
    return bpe_fertility(docs, merges)


# Viterbi DP folds for the unigram-LM oracle (_unigram_cte): DuckDB
# list_reduce has no seed parameter (v1.0), so the seed rides as the
# FIRST element (list_prepend — same trick as _SIMHASH_ORACLE's FNV
# fold) and the loop variable as single-element lists; structurally
# identical to unigram.py's F.aggregate folds, down to the UNREACHABLE
# sentinel.
_UNI_DP = """list_reduce(
            list_prepend([CAST(0 AS BIGINT)],
                         list_transform(range(1, len + 1),
                                        q -> [CAST(q AS BIGINT)])),
            (acc, x) -> list_append(acc, coalesce(
                list_min(list_transform(
                    list_filter(spans, s -> s.i = x[1]),
                    s -> acc[CAST(s.j AS INT) + 1] + s.cost)),
                CAST(1000000000000000 AS BIGINT))))"""

_UNI_SUF = """list_reduce(
            list_prepend([CAST(0 AS BIGINT)],
                         list_transform(range(1, len + 1),
                                        q -> [CAST(q AS BIGINT)])),
            (acc, x) -> list_append(acc, coalesce(
                list_min(list_transform(
                    list_filter(spans, s -> s.j = len - x[1]),
                    s -> s.cost + acc[len - CAST(s.i AS INT) + 1])),
                CAST(1000000000000000 AS BIGINT))))"""


# NOTE (r10): the backtrace used to be a third list_reduce
# (_UNI_BOUNDS) whose lambda correlated THREE outer list columns
# (spans, dp, len); DuckDB's vectorized execution returned different
# results across fresh connections at full cardinality (r9 red gate,
# root-caused in VERDICT r9). It is now a fully relational
# snext + WITH RECURSIVE walk inside the unigram_segments oracle —
# no multi-column lambdas anywhere on the backtrace path.


def _unigram_cte(iters: int, max_token_len: int = 6,
                 max_word_len: int = 12, max_seed_vocab: int = 5000,
                 keep_multi: int = 24) -> str:
    """Unrolled unigram-LM hard-EM training as DuckDB CTEs, mirroring
    functions/unigram.py step for step: uwf = the length-filtered
    word-frequency table; usp = every candidate span (double LATERAL
    over start/end); uv0 = the seed vocabulary (all chars + top
    max_seed_vocab multi-char substrings by count DESC, token ASC);
    then per EM iteration k: ucost{k} (floor-1e6-ln integer costs),
    ubw{k} (per-word span list + forward/backward Viterbi folds),
    ucnt{k} (freq-weighted count of every span on ANY optimal
    segmentation — the all-integer on-path equality), uv{k} (chars
    +1-smoothed, zero-count multi tokens pruned). Ends at ``umodel``
    (token, cnt, nll_micro) = the final kept vocabulary with costs
    renormalized — byte-comparable to unigram_train's output."""
    parts = [f"""uwf AS (
          SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
            SELECT unnest(regexp_split_to_array(trim(text), '\\s+'))
                   AS word
            FROM documents)
          WHERE word != '' AND length(word) <= {max_word_len}
          GROUP BY word)""",
             f"""usp AS (
          SELECT word, freq, j, i, substring(word, j + 1, i - j) AS token
          FROM uwf,
               LATERAL (SELECT unnest(range(0, length(word))) AS j) tj,
               LATERAL (SELECT unnest(range(j + 1,
                          least(length(word), j + {max_token_len}) + 1))
                        AS i) ti)""",
             """useed AS (
          SELECT token, CAST(sum(freq) AS BIGINT) AS c
          FROM usp GROUP BY token)""",
             """uchars AS (
          SELECT token FROM useed WHERE length(token) = 1)""",
             f"""uv0 AS (
          SELECT token, c FROM useed WHERE length(token) = 1
          UNION ALL
          SELECT token, c FROM (
            SELECT token, c FROM useed WHERE length(token) > 1
            ORDER BY c DESC, token ASC LIMIT {max_seed_vocab}))"""]
    for k in range(1, iters + 1):
        prev = f"uv{k - 1}"
        parts.append(f"""ucost{k} AS (
          SELECT token,
                 CAST(floor(1000000 * ln(
                     CAST((SELECT sum(c) FROM {prev}) AS DOUBLE)
                     / CAST(c AS DOUBLE))) AS BIGINT) AS cost
          FROM {prev})""")
        parts.append(f"""ubw{k} AS (
          SELECT word, freq, len, spans,
                 {_UNI_DP} AS dp,
                 {_UNI_SUF} AS suf
          FROM (
            SELECT word, freq, length(word) AS len,
                   list({{'j': j, 'i': i, 'token': token,
                         'cost': cost}}) AS spans
            FROM usp JOIN ucost{k} USING (token)
            GROUP BY word, freq))""")
        parts.append(f"""ucnt{k} AS (
          SELECT s['token'] AS token, CAST(sum(freq) AS BIGINT) AS c
          FROM (SELECT freq, unnest(list_filter(spans,
                  s -> dp[CAST(s.j AS INT) + 1] + s.cost
                       + suf[len - CAST(s.i AS INT) + 1]
                       = dp[len + 1])) AS s
                FROM ubw{k}) u
          GROUP BY 1)""")
        # chars +1 smoothing; counts ⊂ cost-table tokens, whose only
        # single-char members ARE uchars, so length(token) > 1 is the
        # trainer's anti-join exactly
        parts.append(f"""uv{k} AS (
          SELECT token, CAST(coalesce(c, 0) + 1 AS BIGINT) AS c
          FROM uchars LEFT JOIN ucnt{k} USING (token)
          UNION ALL
          SELECT token, c FROM ucnt{k}
          WHERE length(token) > 1 AND c > 0)""")
    parts.append(f"""ukept AS (
          SELECT token, c FROM uv{iters} WHERE length(token) = 1
          UNION ALL
          SELECT token, c FROM (
            SELECT token, c FROM uv{iters} WHERE length(token) > 1
            ORDER BY c DESC, token ASC LIMIT {keep_multi}))""")
    parts.append("""umodel AS (
          SELECT token, c AS cnt,
                 CAST(floor(1000000 * ln(
                     CAST((SELECT sum(c) FROM ukept) AS DOUBLE)
                     / CAST(c AS DOUBLE))) AS BIGINT) AS nll_micro
          FROM ukept)""")
    return ",\n        ".join(parts)


# unigram-LM training (r9): both hard-EM iterations unrolled
# (_unigram_cte) with the per-word Viterbi DPs replayed as
# list_reduce folds — structurally identical to the Spark
# F.aggregate expressions, all-integer on-path counting, the one
# float (floor-1e6-ln cost) margin-audited in
# tests/test_oracle_margins.py
@gate(oracle=f"""
        WITH {_unigram_cte(2)}
        SELECT token, cnt, nll_micro FROM umodel""")
def q_unigram_train(spark, sf_dir):
    """Unigram-LM (SentencePiece-style) tokenizer training
    (functions.unigram.unigram_train, r9): 2 hard-EM iterations over a
    substring seed vocabulary — Kudo 2018's alternative to merge-based
    BPE, completing the tokenizer family. The per-word Viterbi DP runs
    as ONE Catalyst array-fold expression (map-only; the corpus
    collapses to (word, freq) in one shuffle, every EM step then runs
    on vocab-sized tables), costs are floor(1e6·ln(total/c)) BIGINTs
    (the dsir/bm25 integer-ln discipline, margin-audited), and the
    M-step counts every span on ANY optimal segmentation (all-integer
    equality — no backtrace tie-break to disagree on). The oracle
    unrolls both EM iterations as CTEs with the IDENTICAL DP fold via
    DuckDB list_reduce, so the full learned model (token, cnt,
    nll_micro) is value-hash-certified — an iterative trainer under a
    value oracle, like bpe_train/pagerank."""
    from bqetl_spark.functions.unigram import unigram_train

    docs = _t(spark, sf_dir, "documents")
    return unigram_train(docs, iters=2, keep_multi=24)


# unigram segmentation: reuses the training CTEs' final model;
# per DISTINCT word one forward Viterbi DP (the run-stable _UNI_DP
# fold), then — r10 rewrite, see the _UNI_DP block comment — the
# smallest-on-path-start backtrace is RELATIONAL: spans and DP
# values are exploded to rows, `snext` precomputes the unique next
# boundary per (word, position) with a plain integer GROUP BY
# (min j among spans ending at cur with dp[j]+cost = dp[cur] —
# same integer min, no tie-break), and a WITH RECURSIVE walk
# (entity_resolution's discipline) follows it from len down to 0.
# pos = word_pos*1000 + sym_pos, 0-based on both sides
# (bpe_segments' contract). The CTE chain (ending at sseg, the
# per-distinct-word token stream) is shared with the
# unigram_fertility oracle, which appends two integer aggregations.
_useg = f"""
        WITH RECURSIVE {_unigram_cte(2)},
        socc AS (
          SELECT doc_id, ws[i] AS word, CAST(i - 1 AS BIGINT) AS word_pos
          FROM (SELECT doc_id,
                       regexp_split_to_array(trim(text), '\\s+') AS ws
                FROM documents),
               LATERAL (SELECT unnest(generate_series(1, len(ws)))
                        AS i) t
          WHERE ws[i] != '' AND length(ws[i]) <= 12),
        sspanr AS MATERIALIZED (
          SELECT word, CAST(j AS BIGINT) AS j, CAST(i AS BIGINT) AS i,
                 cost
          FROM (SELECT DISTINCT word FROM socc) w,
               LATERAL (SELECT unnest(range(0, length(word)))
                        AS j) tj,
               LATERAL (SELECT unnest(range(j + 1,
                          least(length(word), j + 6) + 1)) AS i) ti,
               LATERAL (SELECT substring(word, j + 1, i - j)
                        AS token) tt
          JOIN (SELECT token, nll_micro AS cost FROM umodel)
            USING (token)),
        sbw AS MATERIALIZED (
          SELECT word, len, {_UNI_DP} AS dp
          FROM (
            SELECT word, length(word) AS len,
                   list({{'j': j, 'i': i, 'cost': cost}}) AS spans
            FROM sspanr GROUP BY word)),
        sdp AS MATERIALIZED (
          SELECT word, CAST(g - 1 AS BIGINT) AS q,
                 dp[CAST(g AS INT)] AS dpv
          FROM sbw,
               LATERAL (SELECT unnest(generate_series(1, len + 1))
                        AS g) t),
        snext AS MATERIALIZED (
          SELECT sp.word, sp.i AS cur, CAST(min(sp.j) AS BIGINT) AS nxt
          FROM sspanr sp
          JOIN sdp d1 ON d1.word = sp.word AND d1.q = sp.j
          JOIN sdp d2 ON d2.word = sp.word AND d2.q = sp.i
          WHERE d1.dpv + sp.cost = d2.dpv
          GROUP BY sp.word, sp.i),
        swalk AS (
          SELECT word, CAST(len AS BIGINT) AS cur,
                 CAST(NULL AS BIGINT) AS prev, CAST(0 AS BIGINT) AS step
          FROM sbw
          UNION ALL
          SELECT w.word, n.nxt AS cur, w.cur AS prev, w.step + 1
          FROM swalk w JOIN snext n ON n.word = w.word AND n.cur = w.cur
          WHERE w.cur > 0),
        sseg AS (
          SELECT word,
                 CAST(max(step) OVER (PARTITION BY word) - step
                      AS BIGINT) AS sym_pos,
                 substring(word, CAST(cur AS INT) + 1,
                           CAST(prev - cur AS INT)) AS token
          FROM swalk WHERE step >= 1)"""


@gate(oracle=_useg + """
        SELECT doc_id, token, word_pos * 1000 + sym_pos AS pos
        FROM socc JOIN sseg USING (word)""")
def q_unigram_segments(spark, sf_dir):
    """Viterbi segmentation of the corpus with the unigram model just
    trained (functions.unigram.unigram_segments after unigram_train,
    r9): one row per subword occurrence (doc_id, token, pos =
    word_pos·1000 + sym_pos — bpe_segments' contract). Segmentation is
    a pure function of the word, so the DP + smallest-start backtrace
    (a second array fold whose final accumulator IS the ascending
    token-boundary list) runs once per DISTINCT word and joins back to
    the occurrence stream. Oracle reuses the unrolled-training CTEs'
    final model and replays both folds in DuckDB list_reduce —
    LEARN→APPLY hash-certified end to end."""
    from bqetl_spark.functions.unigram import (unigram_segments,
                                               unigram_train)

    docs = _t(spark, sf_dir, "documents")
    return unigram_segments(docs, unigram_train(docs, iters=2,
                                                keep_multi=24))


# unigram_fertility (r10): bpe_fertility's two exact integer
# aggregations over the shared segmentation chain — per distinct
# word the token count, joined to the occurrence stream, then
# per-doc totals (fertility_ppm = n_subwords*1e6 div n_words).
@gate(oracle=_useg + """,
        sntok AS (
          SELECT word, CAST(count(*) AS BIGINT) AS ntok
          FROM sseg GROUP BY word)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(ntok) AS BIGINT) AS n_subwords,
               CAST(sum(ntok) * 1000000 // count(*) AS BIGINT)
                 AS fertility_ppm,
               CAST(max(ntok) AS BIGINT) AS max_word_subwords
        FROM socc JOIN sntok USING (word)
        GROUP BY doc_id""")
def q_unigram_fertility(spark, sf_dir):
    """Fertility diagnostics of the trained unigram model
    (functions.unigram.unigram_fertility, r10): bpe_fertility's exact
    per-document contract (n_words / n_subwords / exact-ppm fertility /
    worst single word) over the unigram segmentation, closing the
    tokenizer family — train, apply, and eval are now hash-certified
    for BOTH vocabularies on the same corpus and directly comparable
    (the suite pins unigram < BPE fertility). Oracle appends two
    integer aggregations to the shared segmentation CTE chain."""
    from bqetl_spark.functions.unigram import (unigram_fertility,
                                               unigram_train)

    docs = _t(spark, sf_dir, "documents")
    return unigram_fertility(docs, unigram_train(docs, iters=2,
                                                 keep_multi=24))


def _wp_cte(n_merges: int, emit: str = "merges",
            max_word_len: int = 12, max_token_len: int = 12) -> str:
    """Unrolled WordPiece training as DuckDB CTEs, mirroring
    functions/wordpiece.py step for step: wv0 = the length-filtered
    word-frequency table with each word encoded ' c0  ##c1  ##c2 '
    (continuation marking, no '</w>'); per merge k: wsym_k (integer
    symbol counts), wp_k (integer pair counts), wb_k (argmax by the
    EXACT fixed-point likelihood score cnt·10^9 // (c_l·c_r), ties
    score DESC, l ASC, r ASC; merged = l || r-stripped-of-'##'), wv_k
    (plain replace — bpe's identical left-to-right scan). emit='merges'
    appends the SELECT unioning the argmax rows; emit='apply' instead
    extends the chain with the greedy longest-match segmentation:
    wvocab (initial symbols ∪ merge tokens), wsp (position-adjusted
    candidate spans equi-joined to the vocab), wnext (the unique
    farthest reach per (word, position) — a plain integer GROUP BY),
    a relational WITH RECURSIVE walk from 0 (the r10 backtrace
    discipline — no list_reduce anywhere), and wseg (consecutive-
    boundary tokens, or the single '[UNK]' row when the walk stalls
    before the end — BERT's rule). Callers using emit='apply' must
    open with WITH RECURSIVE."""
    # wv{k-1} is read THREE times per iteration (wsym, wp, wv) and
    # wb{k} twice — without MATERIALIZED the inlining grows 3^k-fold
    # and DuckDB EMFILEs on parquet handles (the kcore peel lesson)
    parts = [f"""wv0 AS MATERIALIZED (
          SELECT word, freq,
                 ' ' || array_to_string(list_transform(
                     generate_series(1, length(word)),
                     i -> CASE WHEN i = 1 THEN word[i]
                          ELSE '##' || word[i] END), '  ') || ' ' AS s
          FROM (
            SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
              SELECT unnest(regexp_split_to_array(trim(text), '\\s+'))
                     AS word
              FROM documents)
            WHERE word != '' AND length(word) <= {max_word_len}
            GROUP BY word))"""]
    for k in range(1, n_merges + 1):
        parts.append(f"""wsym{k} AS (
          SELECT sym[i] AS t, CAST(sum(freq) AS BIGINT) AS c
          FROM (SELECT string_split(trim(s), '  ') AS sym, freq
                FROM wv{k - 1}),
               LATERAL (SELECT unnest(generate_series(1, len(sym)))
                        AS i) u
          GROUP BY 1)""")
        parts.append(f"""wp{k} AS (
          SELECT sym[i] AS l, sym[i+1] AS r,
                 CAST(sum(freq) AS BIGINT) AS cnt
          FROM (SELECT string_split(trim(s), '  ') AS sym, freq
                FROM wv{k - 1}),
               LATERAL (SELECT unnest(generate_series(1, len(sym) - 1))
                        AS i) t
          GROUP BY 1, 2)""")
        parts.append(f"""wb{k} AS MATERIALIZED (
          SELECT p.l, p.r,
                 p.l || CASE WHEN p.r LIKE '##%' THEN p.r[3:]
                             ELSE p.r END AS m,
                 p.cnt,
                 CAST(p.cnt * 1000000000 // (cl.c * cr.c) AS BIGINT)
                   AS score
          FROM wp{k} p JOIN wsym{k} cl ON p.l = cl.t
                       JOIN wsym{k} cr ON p.r = cr.t
          ORDER BY score DESC, p.l ASC, p.r ASC LIMIT 1)""")
        if k < n_merges or emit == "apply":
            # LEFT JOIN ON TRUE + coalesce: early-stop passthrough when
            # the corpus runs out of pairs (bpe's r7-fuzz lesson)
            parts.append(f"""wv{k} AS MATERIALIZED (
          SELECT word, freq,
                 coalesce(replace(s, ' ' || b.l || '  ' || b.r || ' ',
                                  ' ' || b.m || ' '), s) AS s
          FROM wv{k - 1} LEFT JOIN wb{k} b ON TRUE)""")
    if emit == "merges":
        union = "\n          UNION ALL ".join(
            f"""SELECT CAST({k} AS BIGINT) AS "rank", l AS "left", """
            f"""r AS "right", m AS merged, cnt AS pair_count, """
            f"""score AS score_ppb FROM wb{k}"""
            for k in range(1, n_merges + 1))
        return (",\n        ".join(parts)
                + f"\n        SELECT * FROM ({union})")
    vocab_union = "\n          UNION ".join(
        f"SELECT m AS token FROM wb{k}" for k in range(1, n_merges + 1))
    parts.append(f"""wvocab AS (
          SELECT DISTINCT CASE WHEN i = 1 THEN word[i]
                               ELSE '##' || word[i] END AS token
          FROM wv0,
               LATERAL (SELECT unnest(generate_series(1, length(word)))
                        AS i) t
          UNION
          {vocab_union})""")
    parts.append(f"""wocc AS (
          SELECT doc_id, ws[i] AS word, CAST(i - 1 AS BIGINT) AS word_pos
          FROM (SELECT doc_id,
                       regexp_split_to_array(trim(text), '\\s+') AS ws
                FROM documents),
               LATERAL (SELECT unnest(generate_series(1, len(ws)))
                        AS i) t
          WHERE ws[i] != '' AND length(ws[i]) <= {max_word_len})""")
    parts.append("""wdw AS (SELECT DISTINCT word FROM wocc)""")
    parts.append(f"""wsp AS MATERIALIZED (
          SELECT word, CAST(j AS BIGINT) AS j, CAST(i AS BIGINT) AS i
          FROM wdw,
               LATERAL (SELECT unnest(range(0, length(word)))
                        AS j) tj,
               LATERAL (SELECT unnest(range(j + 1,
                          least(length(word), j + {max_token_len}) + 1))
                        AS i) ti,
               LATERAL (SELECT CASE WHEN j = 0
                          THEN substring(word, 1, CAST(i AS INT))
                          ELSE '##' || substring(word, CAST(j AS INT) + 1,
                                                 CAST(i - j AS INT))
                        END AS tok) tt
          JOIN wvocab ON tok = wvocab.token)""")
    parts.append("""wnext AS MATERIALIZED (
          SELECT word, j AS cur, CAST(max(i) AS BIGINT) AS nxt
          FROM wsp GROUP BY word, j)""")
    parts.append("""wwalk AS (
          SELECT word, CAST(length(word) AS BIGINT) AS len,
                 CAST(0 AS BIGINT) AS cur, CAST(NULL AS BIGINT) AS prev,
                 CAST(0 AS BIGINT) AS step
          FROM wdw
          UNION ALL
          SELECT w.word, w.len, n.nxt AS cur, w.cur AS prev, w.step + 1
          FROM wwalk w JOIN wnext n ON n.word = w.word AND n.cur = w.cur
          WHERE w.cur < w.len)""")
    parts.append("""wreach AS (
          SELECT word, max(cur) AS reached, max(len) AS len
          FROM wwalk GROUP BY word)""")
    parts.append("""wseg AS (
          SELECT w.word, w.step - 1 AS sym_pos,
                 CASE WHEN w.prev = 0
                      THEN substring(w.word, 1, CAST(w.cur AS INT))
                      ELSE '##' || substring(w.word,
                                             CAST(w.prev AS INT) + 1,
                                             CAST(w.cur - w.prev AS INT))
                 END AS token
          FROM wwalk w JOIN wreach r
            ON r.word = w.word AND r.reached = r.len
          WHERE w.step >= 1
          UNION ALL
          SELECT word, CAST(0 AS BIGINT) AS sym_pos, '[UNK]' AS token
          FROM wreach WHERE reached < len)""")
    return ",\n        ".join(parts)


# WordPiece (r10): 8 likelihood-scored merges unrolled (_wp_cte);
# the apply oracle extends the chain with the greedy walk — both
# mirror functions/wordpiece.py step for step
@gate(oracle=f"""
        WITH {_wp_cte(8, emit="merges")}""")
def q_wordpiece_train(spark, sf_dir):
    """WordPiece merge training (functions.wordpiece.wordpiece_train,
    r10): 8 merges scored by likelihood gain — the exact BIGINT fixed
    point cnt(l,r)·10^9 div (cnt(l)·cnt(r)) over the current
    segmentation (ties score DESC, l, r) — with '##' continuation
    marking instead of BPE's '</w>'. The third tokenizer family (BERT's)
    next to merge-count BPE and unigram-LM. Oracle unrolls the 8
    iterations as CTEs (_wp_cte), two integer aggregations + one argmax
    per merge, the merge step the proven cross-engine string replace."""
    from bqetl_spark.functions.wordpiece import wordpiece_train

    docs = _t(spark, sf_dir, "documents")
    return wordpiece_train(docs, n_merges=8)


@gate(oracle=f"""
        WITH RECURSIVE {_wp_cte(8, emit="apply")}
        SELECT doc_id, token, word_pos * 1000 + sym_pos AS pos
        FROM wocc JOIN wseg USING (word)""")
def q_wordpiece_segments(spark, sf_dir):
    """Greedy longest-match-first WordPiece segmentation with the vocab
    just learned (functions.wordpiece.wordpiece_segments, r10): per
    DISTINCT word, position-adjusted candidate spans equi-join the
    vocabulary (initial symbols ∪ 8 merge tokens) and ONE array fold
    walks boundaries left to right taking the longest match (integer
    max — no ties possible); '[UNK]' when a position has no match
    (unreachable on the training corpus — chars are always in vocab).
    Emits (doc_id, token, pos = word_pos·1000 + sym_pos), bpe_segments'
    contract, '##'-prefixed continuations in the token text. Oracle:
    the same spans→farthest-reach table and a relational WITH RECURSIVE
    walk (the r10 backtrace discipline — no list_reduce)."""
    from bqetl_spark.functions.wordpiece import (wordpiece_segments,
                                                 wordpiece_train,
                                                 wordpiece_vocab)

    docs = _t(spark, sf_dir, "documents")
    mt = wordpiece_train(docs, n_merges=8)
    merged = [r["merged"] for r in mt.orderBy("rank").collect()]
    return wordpiece_segments(docs, wordpiece_vocab(docs, merged))


# wordpiece_fertility (r10): the two fertility aggregations over
# the same apply chain ('[UNK]' words count their single token)
@gate(oracle=f"""
        WITH RECURSIVE {_wp_cte(8, emit="apply")},
        wntok AS (
          SELECT word, CAST(count(*) AS BIGINT) AS ntok
          FROM wseg GROUP BY word)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(ntok) AS BIGINT) AS n_subwords,
               CAST(sum(ntok) * 1000000 // count(*) AS BIGINT)
                 AS fertility_ppm,
               CAST(max(ntok) AS BIGINT) AS max_word_subwords
        FROM wocc JOIN wntok USING (word)
        GROUP BY doc_id""")
def q_wordpiece_fertility(spark, sf_dir):
    """Fertility diagnostics of the WordPiece vocabulary
    (functions.wordpiece.wordpiece_fertility, r10): the bpe_fertility
    contract over the greedy segmentation, completing the tokenizer
    triad's LEARN→APPLY→MEASURE certification — bpe, unigram and
    wordpiece fertility are now directly comparable per document on
    one corpus. Oracle appends the two integer aggregations to the
    _wp_cte apply chain."""
    from bqetl_spark.functions.wordpiece import (wordpiece_fertility,
                                                 wordpiece_train,
                                                 wordpiece_vocab)

    docs = _t(spark, sf_dir, "documents")
    mt = wordpiece_train(docs, n_merges=8)
    merged = [r["merged"] for r in mt.orderBy("rank").collect()]
    return wordpiece_fertility(docs, wordpiece_vocab(docs, merged))


# trained lang-id (r9): char-trigram NB — hashed buckets, labeled
# id%10<3 training slice, smoothing floor via coalesce, BIGINT argmax
_LANG_ID_TRAINED_ORACLE = """
        WITH base AS (
          SELECT doc_id, lang, lower(text) AS t FROM documents
          WHERE length(lower(text)) >= 3),
        g AS (
          SELECT doc_id, lang,
                 ('0x' || substr(md5(substr(t, i, 3)), 1, 15))::BIGINT
                   % 4096 AS b
          FROM base, LATERAL unnest(range(1, length(t) - 1)) AS u(i)),
        docfeat AS (
          SELECT doc_id, b, CAST(count(*) AS BIGINT) AS n
          FROM g GROUP BY 1, 2),
        train AS (
          SELECT lang AS l, b, CAST(count(*) AS BIGINT) AS c
          FROM g WHERE ((doc_id % 10) + 10) % 10 < 3 GROUP BY 1, 2),
        tot AS (SELECT l, CAST(sum(c) AS BIGINT) AS nl
                FROM train GROUP BY 1),
        model AS (
          SELECT l, b,
                 CAST(floor(1000000 * ln((c + 1)::DOUBLE
                                         / (nl + 4096)::DOUBLE))
                      AS BIGINT) AS s
          FROM train JOIN tot USING (l)),
        miss AS (
          SELECT l, CAST(floor(1000000 * ln(1.0 / (nl + 4096)::DOUBLE))
                         AS BIGINT) AS s0
          FROM tot),
        ll AS (
          SELECT d.doc_id, m.l,
                 CAST(sum(d.n * coalesce(mo.s, m.s0)) AS BIGINT) AS ll
          FROM docfeat d CROSS JOIN miss m
          LEFT JOIN model mo ON mo.l = m.l AND mo.b = d.b
          GROUP BY 1, 2),
        pred AS (
          SELECT doc_id, l, ll,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY ll DESC, l ASC) AS rn
          FROM ll)
        SELECT b.doc_id, b.lang, p.l AS pred_lang, p.ll AS ll_micro
        FROM base b JOIN pred p ON b.doc_id = p.doc_id AND p.rn = 1"""


@gate(oracle=_LANG_ID_TRAINED_ORACLE)
def q_lang_id_trained(spark, sf_dir):
    """Trained hashed char-trigram language classifier (functions.text.
    lang_id_trained, r9 — the fastText langid shape on the DSIR
    machinery): multinomial NB over md5-hashed trigram buckets, trained
    on the labeled doc_id%10<3 slice, integer log-likelihood argmax with
    lang-ASC tie-break. Model state is O(langs × 4096) — broadcastable
    at any corpus size; the feature stream is map-only. NOTE the
    testdata's lang label is decorative (same token distribution per
    lang), so accuracy here is majority-class; the discriminative-power
    floor vs the stopword heuristic is pinned in tests on a real
    multilingual fixture. The gate certifies the train→score→argmax
    arithmetic end-to-end (margin-audited ln, BIGINT elsewhere)."""
    docs = _t(spark, sf_dir, "documents")
    return tx.lang_id_trained(docs, buckets=4096)


# confusion matrix: composes the certified lang_id_trained SQL as a
# subquery (the corpus_keep composition precedent)
@gate(oracle=f"""
        SELECT lang, pred_lang,
               CASE WHEN ((doc_id % 10) + 10) % 10 < 3 THEN 'train'
                    ELSE 'held_out' END AS split,
               CAST(count(*) AS BIGINT) AS n
        FROM ({_LANG_ID_TRAINED_ORACLE}) p
        GROUP BY 1, 2, 3""")
def q_langid_confusion(spark, sf_dir):
    """Model evaluation as a first-class op (r10): the confusion matrix
    of the TRAINED NB language classifier against the labeled truth,
    split by training-slice membership — (lang, pred_lang, split, n).
    Closes the train→apply→EVALUATE loop for the learned-model family
    the way fertility does for tokenizers; the oracle composes the
    already-certified lang_id_trained SQL as a subquery (the
    corpus_keep composition precedent), so a hash-match certifies the
    evaluation arithmetic on top of the certified model."""
    docs = _t(spark, sf_dir, "documents")
    pred = tx.lang_id_trained(docs)
    split = F.when(F.pmod(F.col("doc_id"), F.lit(10)) < 3,
                   F.lit("train")).otherwise(F.lit("held_out"))
    return (pred.select("lang", "pred_lang", split.alias("split"))
            .groupBy("lang", "pred_lang", "split")
            .agg(F.count("*").cast("long").alias("n")))


@gate(oracle="""
        WITH base AS MATERIALIZED (
            SELECT doc_id, lang, lower(text) AS t FROM documents
            WHERE length(lower(text)) >= 3),
        pc_df AS MATERIALIZED (
            SELECT doc_id, lang, b, CAST(count(*) AS BIGINT) AS n FROM (
                SELECT doc_id, lang,
                       ('0x' || substr(md5(substr(t, i, 3)), 1, 15))::BIGINT
                         % 256 AS b
                FROM base, LATERAL unnest(range(1, length(t) - 1)) AS u(i)
            ) g GROUP BY doc_id, lang, b),
        pc_tr AS MATERIALIZED (
            SELECT * FROM pc_df WHERE ((doc_id % 10) + 10) % 10 < 3),
        pc_trdocs AS MATERIALIZED (
            SELECT DISTINCT doc_id, lang FROM pc_tr),
        pc_cls AS MATERIALIZED (SELECT DISTINCT lang AS c FROM pc_tr),
        w0 AS (SELECT CAST(NULL AS VARCHAR) AS c, CAST(NULL AS BIGINT) AS b,
                      CAST(NULL AS BIGINT) AS w WHERE 1 = 0),"""
        + ",".join(_pc_iter.format(k=k, p=k - 1) for k in range(1, 4))
        + """,
        alldocs AS (SELECT DISTINCT doc_id, lang FROM pc_df),
        fin AS MATERIALIZED (
            SELECT d.doc_id, d.lang, c.c AS cls,
                   COALESCE(SUM(t.n * w.w), 0) AS s
            FROM alldocs d CROSS JOIN pc_cls c
            LEFT JOIN pc_df t ON t.doc_id = d.doc_id
            LEFT JOIN w3 w ON w.c = c.c AND w.b = t.b
            GROUP BY d.doc_id, d.lang, c.c)
        SELECT doc_id, lang, cls AS pred_lang, CAST(s AS BIGINT) AS score
        FROM (SELECT doc_id, lang, cls, s, row_number() OVER (
                  PARTITION BY doc_id ORDER BY s DESC, cls ASC) AS rn
              FROM fin) z
        WHERE rn = 1""")
def q_perceptron_langid(spark, sf_dir):
    """Batch multiclass perceptron language classifier
    (functions.text.perceptron_langid, r10): mistake-driven TRAINING
    LOOP as an exact dataframe program — 3 batch iterations over the
    id%10<3 labeled slice, integer weights, argmax prediction with
    class-ASC tie-break, zero float ANYWHERE (training included; the
    NB lang_id_trained still carries a margin-audited ln). The oracle
    unrolls all three iterations as MATERIALIZED CTEs — scores,
    argmax, signed updates, FULL-JOIN weight fold — and hash-matches
    the final per-doc predictions + winning scores. The Spark side
    trains with the shared ``_batch_perceptron`` collect loop instead
    (driver-held weights planned as array literals): a different plan
    for the same integer weights."""
    docs = _t(spark, sf_dir, "documents")
    return tx.perceptron_langid(docs, buckets=256, iters=3)


# evaluation harness on top: confusion matrix by split (composes the
# certified training SQL as a subquery — corpus_keep precedent)
@gate(oracle=f"""
        SELECT weak_keep, pred_keep,
               CASE WHEN ((doc_id % 10) + 10) % 10 < 3
                    THEN 'train' ELSE 'held_out' END AS split,
               CAST(count(*) AS BIGINT) AS n
        FROM ({_QUALITY_TRAINED_ORACLE}) q
        GROUP BY weak_keep, pred_keep, split""")
def q_quality_confusion(spark, sf_dir):
    """Evaluation gate for the trained quality classifier (r11): the
    confusion matrix of predicted vs weak-rule labels split by
    training-slice membership — the langid_confusion harness applied
    to the quality model, certifying the evaluation arithmetic on top
    of the certified training loop (oracle composes the quality_trained
    SQL as a subquery)."""
    docs = _t(spark, sf_dir, "documents")
    pred = tx.quality_perceptron(docs, buckets=512, iters=3)
    split = F.when(F.pmod(F.col("doc_id"), F.lit(10)) < 3,
                   F.lit("train")).otherwise(F.lit("held_out"))
    return (pred.select("weak_keep", "pred_keep", split.alias("split"))
            .groupBy("weak_keep", "pred_keep", "split")
            .agg(F.count("*").cast("long").alias("n")))


# trained-threshold variant (r8): same scoring CTEs; thresholds =
# exact lower order statistics on the held-out 3 <= id%10 < 5
# slice per source, applied with a left join + CASE
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
          SELECT p.doc_id, d.source, p.n_pairs, p.nll_ppm
          FROM per p JOIN documents d ON p.doc_id = d.doc_id),
        rk AS (
          SELECT source, doc_id, nll_ppm,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY nll_ppm ASC, doc_id ASC) AS r,
                 count(*) OVER (PARTITION BY source) AS n
          FROM j
          WHERE ((doc_id % 10) + 10) % 10 >= 3
            AND ((doc_id % 10) + 10) % 10 < 5),
        t33 AS (SELECT source, nll_ppm AS t33 FROM rk
                WHERE r = (n - 1) // 3 + 1),
        t66 AS (SELECT source, nll_ppm AS t66 FROM rk
                WHERE r = (2 * (n - 1)) // 3 + 1)
        SELECT j.doc_id, j.source, j.n_pairs, j.nll_ppm,
               CASE WHEN t33.t33 IS NULL THEN 'uncalibrated'
                    WHEN j.nll_ppm <= t33.t33 THEN 'head'
                    WHEN j.nll_ppm <= t66.t66 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM j LEFT JOIN t33 ON j.source = t33.source
               LEFT JOIN t66 ON j.source = t66.source""")
def q_lm_tail_trained(spark, sf_dir):
    """CCNet split with TRAINED thresholds (text.lm_tail_split_trained,
    r8 — the held-out-calibrated variant left open at r7): [t33, t66]
    are exact lower order statistics of nll_ppm over the CALIBRATION
    slice 3 <= doc_id%10 < 5 (disjoint from the LM's doc_id%10 < 3
    training slice), per source; every document is then classified
    map-side against those two broadcast scalars — CCNet's production
    shape (O(sources) state, no corpus-wide ntile sort, cuts reusable
    on tomorrow's documents). Sources with no calibration docs get an
    explicit 'uncalibrated' bucket."""
    docs = _t(spark, sf_dir, "documents")
    return tx.lm_tail_split_trained(docs)
