"""Text analysis for large-scale training-data pipelines.

All hot-path logic is built-in Catalyst expressions (split/regexp/aggregate)
— no Python in the row path, so whole-stage codegen applies and the same code
runs unchanged over 100 TB of documents. Every function takes and returns
columns/DataFrames; thresholds are args, not constants.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from bqetl_spark.caching import ckpt

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deliberately small + deterministic: language ID at this layer is
# a cheap routing signal, not a classifier.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "mit", "nicht", "von"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "de", "pas", "que"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "de", "no", "que"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不", "这", "就"],
}

# Spark \s and DuckDB \s agree; keep the tokenizer to a portable regex so the
# DuckDB oracle reproduces it exactly.
_WS = r"\s+"


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization; leading/trailing space trimmed first so empty
    strings don't produce a phantom token."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), _WS)


def token_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.trim(c) == "", F.lit(0)).otherwise(F.size(tokens(c)))


def bpe_ish_token_count(col: Column | str) -> Column:
    """A BPE-ish proxy: words + digits + punctuation runs each count as a
    token, long words count ceil(len/4) subword units. Pure expressions."""
    c = F.col(col) if isinstance(col, str) else col
    words = tokens(c)
    subwords = F.aggregate(
        words, F.lit(0),
        lambda acc, w: acc + F.ceil(F.length(w) / F.lit(4.0)).cast("int"))
    punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return (subwords + punct).cast("long")


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality signals: token count, mean word length,
    punctuation ratio, stopword ratio, all-caps ratio. Everything stays in
    codegen; at 100 TB this is a single map stage."""
    c = F.col(text_col)
    toks = tokens(c)
    n_tok = token_count(c)
    n_chars = F.length(c)
    punct_chars = n_chars - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    en_stop = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    n_stop = F.size(F.array_intersect(toks, en_stop))
    mean_word_len = F.when(n_tok > 0,
                           F.aggregate(toks, F.lit(0).cast("long"),
                                       lambda a, w: a + F.length(w)) / n_tok)
    return df.withColumns({
        "n_tokens": n_tok.cast("long"),
        "mean_word_len": F.round(mean_word_len.cast("double"), 6),
        "punct_ratio": F.round((punct_chars / F.greatest(n_chars, F.lit(1))).cast("double"), 6),
        "distinct_stopwords": n_stop.cast("long"),
    })


def quality_score(df: DataFrame, text_col: str = "text",
                  min_tokens: int = 5, max_mean_word_len: float = 12.0) -> DataFrame:
    """Composite 0..1 quality score + keep/drop flag — the shape of a
    Gopher/C4-style rule filter, as one codegen stage."""
    feats = quality_features(df, text_col)
    score = (
        F.when(F.col("n_tokens") >= min_tokens, F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when(F.col("mean_word_len") <= max_mean_word_len, F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when(F.col("punct_ratio") <= 0.2, F.lit(0.3)).otherwise(F.lit(0.0))
    )
    return feats.withColumn("quality_score", F.round(score, 6)) \
                .withColumn("keep", F.col("quality_score") >= 0.7)


def lang_id(df: DataFrame, text_col: str = "text",
            out_col: str = "lang_pred") -> DataFrame:
    """Stopword-overlap language ID. Scores = |tokens ∩ stopwords_lang| per
    language; argmax wins, ties broken by language code order; zero evidence
    → 'und'. Fully expressible in SQL for the oracle."""
    toks = tokens(F.lower(F.col(text_col)))
    scores = [
        (code,
         F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))))
        for code, words in sorted(LANG_STOPWORDS.items())
    ]
    best = F.greatest(*[s for _, s in scores])
    pred = F.lit("und")
    # build reverse so earlier codes win ties via later (outer) when-clauses
    for code, s in reversed(scores):
        pred = F.when((best > 0) & (s == best), F.lit(code)).otherwise(pred)
    return df.withColumn(out_col, pred)


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 of normalized text (lowercase, strip
    non-alphanumeric, collapse whitespace). md5 exists in both Spark and
    DuckDB, so the oracle reproduces it bit-for-bit."""
    c = F.col(col) if isinstance(col, str) else col
    norm = F.regexp_replace(F.lower(c), r"[^a-z0-9\s]", "")
    norm = F.trim(F.regexp_replace(norm, r"\s+", " "))
    return F.md5(norm)


# Conservative RE2-and-Java-common-subset patterns (no lookaround), so the
# same strings run in Spark (java.util.regex) and DuckDB (RE2) identically.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^\s]+"
PHONE_RE = r"\+[0-9][0-9 ()./-]{6,}[0-9]"


def redact_pii(col: Column | str) -> Column:
    """Replace emails / URLs / international-format phone numbers with
    typed placeholder tokens — the scrubbing pass an LLM training pipeline
    runs before tokenization. URL first (it can contain '@' userinfo),
    then email, then phone. Pure codegen regexp_replace chain."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, URL_RE, "<URL>")
    c = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    c = F.regexp_replace(c, PHONE_RE, "<PHONE>")
    return c


def pii_count(col: Column | str) -> Column:
    """Number of PII matches (emails + URLs + phones) in the raw text."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.regexp_count(c, F.lit(URL_RE)) +
            F.regexp_count(c, F.lit(EMAIL_RE)) +
            F.regexp_count(c, F.lit(PHONE_RE))).cast("long")


def word_ngrams_all_of(toks: Column | str, n: int = 2) -> Column:
    """ALL word n-grams (multiset) from an already-tokenized array column.
    Pass a bound attribute, not a raw tokens() expression — an expression
    referenced inside the transform lambda re-evaluates per gram (see
    ``dedup.shingles_of``)."""
    toks = F.col(toks) if isinstance(toks, str) else toks
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))

    def gram(i):
        return F.concat_ws(" ", F.slice(toks, i + 1, n))

    return F.transform(idx, gram)


def gram_repetition(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", n: int = 2) -> DataFrame:
    """Gopher-style repetition score: fraction of a document's n-grams
    taken by its single most-repeated n-gram. High values flag boilerplate
    / degenerate repetition for quality filtering.

    Shape: explode → count per (doc, gram) → max/sum per doc. Both
    aggregations combine map-side; the shuffle key is (doc_id, gram), which
    is fine-grained enough to never hot-spot."""
    # explode the gram expression directly: naming it first would make
    # InferFiltersFromGenerate push a size(__g)>0 filter below the
    # projection, recomputing the gram pipeline per row (dedup.shingles_of)
    grams = (df.filter(F.size(tokens(F.col(text_col))) >= n)
             .select(F.col(id_col), tokens(F.col(text_col)).alias("__tk"))
             .select(id_col, F.explode(word_ngrams_all_of("__tk", n)).alias("gram")))
    counts = grams.groupBy(id_col, "gram").agg(F.count("*").alias("__c"))
    return (counts.groupBy(id_col)
            .agg(F.max("__c").alias("top_count"),
                 F.sum("__c").alias("n_grams"))
            .select(id_col, "top_count", "n_grams",
                    (F.col("top_count").cast("double") / F.col("n_grams"))
                    .alias("rep_ratio")))


def repetition_profile(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       dup_n: int = 5) -> DataFrame:
    """Gopher-style CHARACTER-fraction repetition battery (r10) —
    Rae et al. 2021's quality signals that :func:`gram_repetition`
    (gram-count fraction of the top bigram) does not cover, all as
    exact fixed-point BIGINT ppm so the battery is value-hash
    oracle-able:

    - ``top2_char_ppm`` / ``top3_char_ppm``: fraction of word
      characters covered by the single most frequent word 2-/3-gram —
      occurrences × the gram's word characters (overlapping
      occurrences count, the standard sliding window) over the doc's
      total word characters. Ties on count break by gram ASC (binary
      collation, identical in both engines).
    - ``dup{n}_char_ppm``: fraction of word characters inside ANY
      duplicated ``dup_n``-gram, computed by POSITION MARKING — the
      union of word positions covered by every occurrence of every
      gram appearing more than once — so overlapping duplicates are
      not double-counted (Gopher's "characters contained within"
      semantics, not a per-gram sum).

    Returns (id, n_words, word_chars, top2_char_ppm, top3_char_ppm,
    dup{n}_char_ppm); docs whose text is empty/whitespace produce no
    row; docs with fewer words than a window get 0 for that signal.

    Shape: one words-array scan feeds per-n gram explodes; every
    aggregation keys on (doc, gram) or (doc, position) — fine-grained,
    map-side combinable, no hot keys; the final assembly is per-doc
    equi-joins of doc-sized aggregates. No UDFs, no folds."""
    # deliberately NOT pinned: base is corpus-sized (the words arrays);
    # recomputing scan+split per gram stream is cheaper at 100 TB than
    # persisting ~the corpus (pin() is for compact intermediates)
    ws = F.split(F.trim(F.col(text_col)), r"\s+")
    base = (df.filter(F.trim(F.col(text_col)) != "")
            .select(F.col(id_col), ws.alias("__ws"))
            .select(id_col, "__ws",
                    F.size("__ws").cast("long").alias("n_words"),
                    F.expr("aggregate(transform(__ws, "
                           "w -> cast(char_length(w) as bigint)), "
                           "0L, (a, x) -> a + x)").alias("word_chars")))

    def grams_of(n):
        # guard size >= n BEFORE sequence(): Spark's sequence(1, k)
        # DESCENDS when k < 1 instead of returning empty
        return (base.filter(F.col("n_words") >= n)
                .select(id_col, F.explode(F.expr(
                    f"transform(sequence(1, size(__ws) - {n - 1}), "
                    f"p -> struct(cast(p as bigint) AS p, "
                    f"concat_ws(' ', slice(__ws, p, {n})) AS gram))"))
                    .alias("g"))
                .select(id_col, F.col("g.p").alias("p"),
                        F.col("g.gram").alias("gram")))

    def top_num(n):
        counts = (grams_of(n).groupBy(id_col, "gram")
                  .agg(F.count("*").cast("long").alias("__c")))
        w = Window.partitionBy(id_col).orderBy(F.desc("__c"),
                                               F.asc("gram"))
        return (counts.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .select(F.col(id_col).alias("__id"),
                        (F.col("__c")
                         * (F.char_length("gram") - (n - 1)).cast("long"))
                        .alias(f"__num{n}")))

    gd = grams_of(dup_n)
    wdup = Window.partitionBy(id_col, "gram")
    marked = (gd.withColumn("__c", F.count("*").over(wdup))
              .filter(F.col("__c") > 1)
              .select(id_col, F.explode(
                  F.sequence(F.col("p"), F.col("p") + (dup_n - 1)))
                  .alias("q"))
              .distinct())
    dup_num = (marked
               .join(base.select(id_col, "__ws"), id_col)
               .select(id_col,
                       F.expr("char_length(element_at(__ws, "
                              "cast(q as int)))").cast("long")
                       .alias("__ch"))
               .groupBy(id_col)
               .agg(F.sum("__ch").alias("__numd"))
               .select(F.col(id_col).alias("__idd"), "__numd"))
    return (base
            .join(top_num(2), F.col(id_col) == F.col("__id"), "left")
            .drop("__id")
            .join(top_num(3), F.col(id_col) == F.col("__id"), "left")
            .drop("__id")
            .join(dup_num, F.col(id_col) == F.col("__idd"), "left")
            .select(id_col, "n_words", "word_chars",
                    F.expr("coalesce(__num2, 0L) * 1000000 div word_chars")
                    .cast("long").alias("top2_char_ppm"),
                    F.expr("coalesce(__num3, 0L) * 1000000 div word_chars")
                    .cast("long").alias("top3_char_ppm"),
                    F.expr("coalesce(__numd, 0L) * 1000000 div word_chars")
                    .cast("long").alias(f"dup{dup_n}_char_ppm")))


def vocab_growth(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", buckets: int = 10) -> DataFrame:
    """Heaps-law type/token growth curve (r10) — the corpus diagnostic
    behind dedup/quality decisions (a flattening type curve means new
    data is mostly vocabulary the corpus already has). Docs are split
    into ``buckets`` equal id-ranges (bucket b = ids in
    [b·(max+1)/buckets, ...)); per bucket the CUMULATIVE doc count,
    token count, and distinct-type count — a type is counted in the
    bucket of its FIRST appearance (min doc id), so cumulative types
    need one min-aggregation, never a per-prefix distinct.

    Returns (bucket 1..buckets, n_docs, n_tokens, n_types), exact
    BIGINTs. One corpus scan; everything after runs on vocab-sized or
    bucket-sized tables. The max-id scalar attaches via a one-row
    broadcast (the important_parts class). Cumulative sums run in a
    single-partition window over ``buckets`` rows — metadata."""
    occ = (df.select(F.col(id_col).cast("long").alias("__id"),
                     F.explode(tokens(F.col(text_col))).alias("word"))
           .filter(F.col("word") != ""))
    maxd = df.agg(F.max(F.col(id_col)).cast("long").alias("__maxd"))

    def bucket_of(c):
        return (c * buckets / (F.col("__maxd") + 1)).cast("long") + 1

    first = occ.groupBy("word").agg(F.min("__id").alias("__fd"))
    types_b = (first.crossJoin(F.broadcast(maxd))
               .groupBy(bucket_of(F.col("__fd")).alias("bucket"))
               .agg(F.count("*").cast("long").alias("__t")))
    toks_b = (occ.groupBy("__id").agg(F.count("*").alias("__n"))
              .crossJoin(F.broadcast(maxd))
              .groupBy(bucket_of(F.col("__id")).alias("bucket"))
              .agg(F.sum("__n").cast("long").alias("__k")))
    docs_b = (df.select(F.col(id_col).cast("long").alias("__id"))
              .crossJoin(F.broadcast(maxd))
              .groupBy(bucket_of(F.col("__id")).alias("bucket"))
              .agg(F.count("*").cast("long").alias("__d")))
    w = (Window.orderBy("bucket")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (docs_b
            .join(toks_b, "bucket", "left")
            .join(types_b, "bucket", "left")
            .select("bucket",
                    F.sum(F.coalesce("__d", F.lit(0))).over(w)
                    .cast("long").alias("n_docs"),
                    F.sum(F.coalesce("__k", F.lit(0))).over(w)
                    .cast("long").alias("n_tokens"),
                    F.sum(F.coalesce("__t", F.lit(0))).over(w)
                    .cast("long").alias("n_types")))


def source_divergence(df: DataFrame, group_col: str = "source",
                      text_col: str = "text") -> DataFrame:
    """KL(P_group ‖ P_corpus) over token unigram distributions — the
    corpus-drift monitor: which sources/shards are distributionally weird
    relative to the whole corpus (spammy vocab, mojibake, template text)
    and by how many nats.

    Integerized for cross-engine determinism: each term's log-ratio is

        u = floor(10^6 · ln((c/d) · (M/n_g)))

    with c = token count in the group, d = corpus count, n_g = group
    total, M = corpus total. The ratio is computed as (c/d)·(M/n_g) — two
    IEEE divisions and one multiply in a FIXED association, so both
    engines see the identical double; the ln-boundary margin is audited on
    the gate corpora in tests. The weighted sum Σ c·u is BIGINT-exact and
    summation-order-free; the final KL (nats) is a single division.
    Overflow headroom: |u| < 2^35ish only if the ratio were astronomical —
    in practice |u| ≤ ~5·10^7, so Σ c·u needs c·|u| < 2^63, i.e. group
    token counts below ~10^11 — beyond that, raise IDF_SCALE discipline
    applies (drop to 10^3 scaling).

    One explode + three hash aggregations; the (group, token) key space is
    |groups|·|vocab|, and M is a metadata scalar (one long to the driver,
    same audit class as PageRank's node count). Returns
    (group_col, n_tokens, kl_e6 BIGINT, kl DOUBLE).
    """
    base = df.filter(F.trim(F.col(text_col)) != "")
    # one row-local aggregate pass for the corpus-size scalar — cheaper
    # than counting the exploded token relation
    m_total = (base.agg(F.sum(token_count(F.col(text_col))).alias("m"))
               .first()["m"]) or 0
    tok = base.select(F.col(group_col).alias("grp"),
                      F.explode(tokens(F.col(text_col))).alias("tok"))
    cts = tok.groupBy("grp", "tok").agg(F.count("*").alias("c"))
    n_g = cts.groupBy("grp").agg(F.sum("c").alias("n_g"))
    d_t = cts.groupBy("tok").agg(F.sum("c").alias("d"))
    ratio = ((F.col("c") / F.col("d"))
             * (F.lit(float(m_total)) / F.col("n_g")))
    u = F.floor(F.lit(1e6) * F.log(ratio))
    return (cts.join(F.broadcast(d_t), "tok").join(F.broadcast(n_g), "grp")
            .groupBy("grp", "n_g")
            .agg(F.sum(F.col("c") * u).alias("kl_e6"))
            .select(F.col("grp").alias(group_col),
                    F.col("n_g").alias("n_tokens"),
                    F.col("kl_e6"),
                    (F.col("kl_e6")
                     / (F.col("n_g") * F.lit(1e6))).alias("kl")))


def bigram_pmi(df: DataFrame, text_col: str = "text",
               min_count: int = 5) -> DataFrame:
    """Pointwise mutual information over adjacent token pairs — the
    collocation extractor ("new york"-style units) and tokenizer-merge
    signal. PMI = ln(P(ab) / (P(a)·P(b))) with unigram probabilities over
    all tokens (M) and bigram probability over all adjacent pairs (B);
    docs shorter than 2 tokens contribute unigrams but no pairs.

    Integerized like ``source_divergence``: the ratio is evaluated in the
    FIXED association ((c_ab/c_a)·(M/c_b))·(M/B) — every operand pair is
    identical on both engines, so only ln() can wobble (≤1 ulp, margin-
    audited), and the published value floor(10^6·ln ratio) is exact.

    Shape: one explode for unigrams, one for pairs (both map-only off the
    scan), two hash aggregations, and two broadcast joins of the unigram
    table (|vocab| rows). ``min_count`` prunes the pair table before the
    joins. M and B are metadata scalars. Returns
    (tok_a, tok_b, n_pair, pmi_e6).
    """
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    base = df.filter(F.trim(F.col(text_col)) != "")
    # both corpus scalars in ONE row-local aggregate pass (token and pair
    # counts are per-doc expressions — no explode needed just to count)
    n_tok = token_count(F.col(text_col))
    totals = base.agg(
        F.sum(n_tok).alias("m"),
        F.sum(F.greatest(n_tok - 1, F.lit(0))).alias("b")).first()
    m_total, b_total = totals["m"] or 0, totals["b"] or 0
    tok = base.select(F.explode(tokens(F.col(text_col))).alias("t"))
    uni = tok.groupBy("t").agg(F.count("*").alias("c"))
    tk = (base.select(tokens(F.col(text_col)).alias("__tk"))
          .filter(F.size("__tk") >= 2))
    pairs = tk.select(F.explode(F.zip_with(
        F.slice("__tk", 1, F.size("__tk") - 1),
        F.slice("__tk", 2, F.size("__tk") - 1),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")))).alias("p")
    ).select("p.a", "p.b")
    if b_total == 0:  # no doc has 2+ tokens: no pairs, and M/B undefined
        return pairs.select(
            F.col("a").alias("tok_a"), F.col("b").alias("tok_b"),
            F.lit(0).cast("long").alias("n_pair"),
            F.lit(0).cast("long").alias("pmi_e6")).limit(0)
    bg = (pairs.groupBy("a", "b").agg(F.count("*").alias("n_pair"))
          .filter(F.col("n_pair") >= min_count))
    ua = uni.select(F.col("t").alias("a"), F.col("c").alias("__ca"))
    ub = uni.select(F.col("t").alias("b"), F.col("c").alias("__cb"))
    m = F.lit(float(m_total))
    ratio = (((F.col("n_pair") / F.col("__ca")) * (m / F.col("__cb")))
             * F.lit(float(m_total) / float(b_total)))
    return (bg.join(F.broadcast(ua), "a").join(F.broadcast(ub), "b")
            .select(F.col("a").alias("tok_a"), F.col("b").alias("tok_b"),
                    "n_pair",
                    F.floor(F.lit(1e6) * F.log(ratio)).alias("pmi_e6")))


def kn_bigram_probs(df: DataFrame, text_col: str = "text",
                    min_count: int = 5, scale: int = 10**9) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (Kneser & Ney 1995;
    Chen & Goodman 1999) — the standard smoothed n-gram LM, here with
    the fixed discount D = 3/4 so the whole model is EXACT integer
    rational arithmetic (no logarithm, no float — unlike the add-one
    ``lm_score``, nothing here can wobble even 1 ulp):

        P(b|a) = max(c_ab − D, 0)/c_a + (D·N1p(a)/c_a) · (Nc(b)/N_bb)

    with c_a = Σ_b c_ab (context count), N1p(a) = |{b: c_ab > 0}|
    (distinct continuations — the discount mass donors), Nc(b) =
    |{a: c_ab > 0}| (distinct left contexts — the continuation
    probability that makes KN better than Katz: "Francisco" is frequent
    but only ever follows "San"), and N_bb = Σ_b Nc(b) = distinct bigram
    types. Over the common denominator 4·c_a·N_bb:

        p_ppb = floor(scale · (max(4·c_ab − 3, 0)·N_bb + 3·N1p(a)·Nc(b))
                      / (4·c_a·N_bb))

    Exactness envelope: numerator ≤ scale·8·max_count² fits DECIMAL(38)
    while every count < 10¹² (far past a 100 TB corpus's type counts);
    Spark evaluates the product in DECIMAL and divides with the exact
    integral ``div``; a DuckDB oracle replays it in HUGEINT.

    Shape: one pair explode off the scan, one (a,b) hash aggregation,
    then the three model tables are aggregations OF that table —
    groupBy(a) for (c_a, N1p), groupBy(b) for Nc, one count for N_bb —
    re-joined on their keys (broadcast when the vocabulary is small,
    shuffle equi-joins at web scale: the standard LM-training shape).
    ``min_count`` prunes the OUTPUT rows only — the model counts keep
    every pair, so published probabilities are the true model's.
    Returns (tok_a, tok_b, n_pair, p_ppb).
    """
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    tk = (df.filter(F.trim(F.col(text_col)) != "")
          .select(tokens(F.col(text_col)).alias("__tk"))
          .filter(F.size("__tk") >= 2))
    pairs = (tk.select(F.explode(_adjacent_pairs(F.col("__tk"))).alias("p"))
             .select("p.a", "p.b"))
    bg = pairs.groupBy("a", "b").agg(F.count("*").alias("n_pair"))
    ctx = bg.groupBy("a").agg(F.sum("n_pair").alias("__ca"),
                              F.count("*").alias("__n1p"))
    cont = bg.groupBy("b").agg(F.count("*").alias("__nc"))
    n_bb = bg.count()  # metadata scalar: distinct bigram types
    if n_bb == 0:
        return bg.select(F.col("a").alias("tok_a"),
                         F.col("b").alias("tok_b"),
                         F.lit(0).cast("long").alias("n_pair"),
                         F.lit(0).cast("long").alias("p_ppb")).limit(0)
    p_ppb = F.expr(f"""
        (CAST({scale} AS DECIMAL(12,0))
         * (CAST(greatest(4 * n_pair - 3, 0) AS DECIMAL(13,0))
              * CAST({n_bb} AS DECIMAL(13,0))
            + CAST(3 AS DECIMAL(2,0)) * CAST(__n1p AS DECIMAL(12,0))
              * CAST(__nc AS DECIMAL(12,0))))
        div
        (CAST(4 * __ca AS DECIMAL(14,0)) * CAST({n_bb} AS DECIMAL(13,0)))
        """)
    return (bg.filter(F.col("n_pair") >= min_count)
            .join(ctx, "a").join(cont, "b")
            .select(F.col("a").alias("tok_a"), F.col("b").alias("tok_b"),
                    F.col("n_pair").cast("long").alias("n_pair"),
                    p_ppb.cast("long").alias("p_ppb")))


def lm_greedy_chain(df: DataFrame, text_col: str = "text",
                    seeds_k: int = 20, steps: int = 8) -> DataFrame:
    """Greedy argmax decoding from a corpus-trained bigram table — the
    deterministic skeleton of LM generation (argmax sampling ≡
    temperature 0), useful as a corpus fingerprint (the chains surface
    the dominant phrase attractors, e.g. boilerplate loops) and as the
    oracle-able stand-in for a sampling decoder.

    Train: bigram counts over adjacent token pairs; the transition
    function next(a) = argmax_b c(a,b), ties broken by lexicographically
    smallest b (one window row_number — fully deterministic). Decode:
    from each of the ``seeds_k`` most frequent tokens (count desc, token
    asc), follow next() for ``steps`` hops, emitting (seed, step, tok)
    with step 0 = the seed; a token that never occurs as a context ends
    its chain early.

    Shape: the transition table is one hash aggregation + one window
    over the pair stream (vocab-sized, pinned once); each hop joins the
    ≤ seeds_k-row frontier (broadcast) against it — ``steps`` map-side
    joins, no driver-side row iteration. A DuckDB oracle replays the
    walk with WITH RECURSIVE. Cost at web scale is the one pair
    aggregation; the walk itself is metadata-sized.
    """
    if seeds_k < 1 or steps < 1:
        raise ValueError(f"need seeds_k >= 1 and steps >= 1, got "
                         f"{seeds_k}/{steps}")
    from pyspark.sql import Window

    from bqetl_spark.caching import hot_ckpt

    base = df.filter(F.trim(F.col(text_col)) != "")
    tok = base.select(F.explode(tokens(F.col(text_col))).alias("t"))
    seeds = (tok.groupBy("t").agg(F.count("*").alias("__c"))
             .orderBy(F.desc("__c"), F.asc("t")).limit(seeds_k)
             .select(F.col("t").alias("seed")))
    tk = (base.select(tokens(F.col(text_col)).alias("__tk"))
          .filter(F.size("__tk") >= 2))
    bg = (tk.select(F.explode(_adjacent_pairs(F.col("__tk"))).alias("p"))
          .groupBy("p.a", "p.b").agg(F.count("*").alias("__n")))
    w = Window.partitionBy("a").orderBy(F.desc("__n"), F.asc("b"))
    # ckpt, not pin (r12): every hop's frontier subtree re-embeds nxt's
    # logical plan (corpus explode + agg + window), so the 8-hop union
    # planned at 164 Exchange / 72 InMemoryRelation refs with pin; the
    # eager checkpoint is one vocab-sized job and each hop reads a leaf.
    # (Per-hop FRONTIER checkpoints were the measured null result —
    # 8 extra tiny jobs; this is one checkpoint of the shared model.)
    # r13: hot_ckpt (persist + checkpoint) — the transition table is
    # the one expensive subtree here (corpus explode + agg + window),
    # and pinning it lets a repeated invocation in the same session
    # rebuild it from cache (CacheManager plan match) instead of from
    # scratch while keeping the truncated-lineage hops. The only
    # consistent winner in the BENCH_AB_HOT_r13 sweep (1.43→1.08 s and
    # 2.01→1.57 s across both alternating passes); everywhere else the
    # double-store overhead beat the reuse at sf0.1 — recorded null.
    nxt = hot_ckpt(bg.withColumn("__rn", F.row_number().over(w))
                   .filter(F.col("__rn") == 1).select("a", "b"))
    frontier = seeds.select("seed", F.col("seed").alias("tok"))
    out = frontier.select("seed", F.lit(0).cast("long").alias("step"),
                          "tok")
    for i in range(1, steps + 1):
        frontier = (nxt.join(F.broadcast(frontier),
                             F.col("tok") == F.col("a"))
                    .select("seed", F.col("b").alias("tok")))
        out = out.unionByName(
            frontier.select("seed", F.lit(i).cast("long").alias("step"),
                            "tok"))
    return out


def key_skew_report(df: DataFrame, key_col: str, k: int = 20) -> DataFrame:
    """Operational skew diagnostic: the top-k hottest keys with exact
    counts and parts-per-million share — the report you run BEFORE
    choosing between AQE skew-join, adaptive salting, or a frequency
    guard (the three skew tools in this engine). Share is integer
    arithmetic (n·10^6 div total), so the gate is exact. One hash
    aggregation + TakeOrdered; total is a metadata scalar.
    Ties break by key ascending. NULL keys are counted as a key.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    total = df.count()  # metadata scalar
    if total == 0:  # ppm share undefined (ANSI DIV-by-zero otherwise)
        return (df.select(F.col(key_col).cast("string").alias("key"),
                          F.lit(0).cast("long").alias("n"),
                          F.lit(0).cast("long").alias("share_ppm"))
                .limit(0))
    return (df.groupBy(F.col(key_col).cast("string").alias("key"))
            .agg(F.count("*").alias("n"))
            .select("key", "n",
                    F.expr(f"n * 1000000 DIV {total}").alias("share_ppm"))
            .orderBy(F.desc("n"), F.asc_nulls_first("key"))
            .limit(k))


def token_entropy(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Per-document unigram (token) entropy + top-token share (r7) — the
    diversity/repetition pair of quality signals: low entropy or a high
    most-common-token share flags degenerate or template text that
    n-gram repetition (gram_repetition) can miss when the repeats are
    scattered rather than adjacent.

    Integerized for cross-engine determinism (the source_divergence /
    bigram_pmi discipline):

        entropy_ppm   = (Σ_t cnt_t · floor(10^6·ln(n/cnt_t))) div n
        top_share_ppm = max_t(cnt_t) · 10^6 div n          (exact)

    where n is the document's token count. ln is the only float op; its
    argument n/cnt is one of the corpus's observed (cnt, n) pairs, every
    one audited against its floor boundary in
    tests/test_text.py::test_entropy_ln_margin_on_gate_corpora.

    Shape: n rides along from the same row as the explode (no
    corpus-wide join — the bm25 dl trick); one groupBy (doc, token),
    one per-doc agg, both map-side combined. Returns
    (id, n_tokens BIGINT, entropy_ppm BIGINT, top_share_ppm BIGINT).
    """
    toks = tokens(F.col(text_col))
    tf = (df.filter(F.trim(F.col(text_col)) != "")
          .select(F.col(id_col), F.size(toks).alias("__n"),
                  F.explode(toks).alias("tok"))
          .groupBy(id_col, "tok")
          .agg(F.count("*").alias("__c"), F.max("__n").alias("__n")))
    term = F.col("__c") * F.floor(
        F.lit(10**6) * F.log(F.col("__n").cast("double") / F.col("__c")))
    return (tf.groupBy(id_col)
            .agg(F.max("__n").alias("__n"),
                 F.sum(term).alias("__h"),
                 F.max("__c").alias("__mc"))
            .select(F.col(id_col),
                    F.col("__n").cast("long").alias("n_tokens"),
                    F.expr("__h div __n").cast("long").alias("entropy_ppm"),
                    F.expr("__mc * 1000000 div __n").cast("long")
                    .alias("top_share_ppm")))


def _adjacent_pairs(toks):
    """(a, b) structs for each adjacent token pair of an array column."""
    return F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")))


def lm_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
             ref_mod: int = 10, ref_keep: int = 3) -> DataFrame:
    """Bigram-LM perplexity scoring — the CCNet/RefinedWeb quality
    filter: train an add-one-smoothed bigram model on a deterministic
    reference slice of the corpus (``id % ref_mod < ref_keep``), then
    score EVERY document by its mean negative log-likelihood per
    adjacent token pair. Low nll ≈ reference-like text; high nll flags
    boilerplate, gibberish, and wrong-language docs.

        P(w2 | w1) = (c(w1,w2) + 1) / (ctx(w1) + V)
        nll_pair   = floor(10^6 · ln((ctx + V) / (cb + 1)))   ≥ 0
        nll_ppm    = Σ nll_pair div n_pairs                  (exact)

    with V = reference vocabulary size, cb/ctx coalesced to 0 for
    unseen bigrams/contexts (an unseen context scores exactly ln(V) per
    pair). ln's argument is the IEEE-exact quotient of two identical
    integers on both engines, so only the ≤1-ulp libm wobble remains —
    every observed (ctx+V, cb+1) pair is floor-margin-audited in
    tests/test_text.py.

    Shape: the model is two hash aggregations over the reference pairs
    (bigram + context counts); scoring is two LEFT equi-joins of the
    per-doc pair stream against those tables (AQE broadcasts them when
    the vocabulary is small; at web scale they shuffle-join on token
    keys, the standard LM-training shape) and one per-doc aggregation.
    V is a metadata scalar. Docs with < 2 tokens have no pairs and are
    excluded (perplexity undefined).

    Returns (id, n_pairs BIGINT, nll_ppm BIGINT).
    """
    if ref_mod < 1 or not (0 < ref_keep <= ref_mod):
        raise ValueError(f"bad reference slice {ref_keep}/{ref_mod}")
    base = (df.filter(F.trim(F.col(text_col)) != "")
            .select(F.col(id_col), tokens(F.col(text_col)).alias("__tk")))
    ref = base.filter(F.pmod(F.col(id_col), F.lit(ref_mod)) < ref_keep)
    v_total = (ref.select(F.explode("__tk").alias("t"))
               .agg(F.countDistinct("t")).first()[0]) or 0
    if v_total == 0:
        return (base.select(F.col(id_col),
                            F.lit(0).cast("long").alias("n_pairs"),
                            F.lit(0).cast("long").alias("nll_ppm"))
                .limit(0))
    rpairs = (ref.filter(F.size("__tk") >= 2)
              .select(F.explode(_adjacent_pairs(F.col("__tk"))).alias("p"))
              .select("p.a", "p.b"))
    bg = rpairs.groupBy("a", "b").agg(F.count("*").alias("__cb"))
    ctx = rpairs.groupBy("a").agg(F.count("*").alias("__cx"))
    dpairs = (base.filter(F.size("__tk") >= 2)
              .select(F.col(id_col),
                      F.explode(_adjacent_pairs(F.col("__tk"))).alias("p"))
              .select(id_col, "p.a", "p.b"))
    num = (F.coalesce(F.col("__cx"), F.lit(0)) + F.lit(v_total))
    den = (F.coalesce(F.col("__cb"), F.lit(0)) + F.lit(1))
    nll = F.floor(F.lit(10**6) * F.log(num.cast("double")
                                       / den.cast("double")))
    return (dpairs.join(bg, ["a", "b"], "left")
            .join(ctx, ["a"], "left")
            .select(F.col(id_col), nll.alias("__nll"))
            .groupBy(id_col)
            .agg(F.count("*").cast("long").alias("n_pairs"),
                 F.sum("__nll").alias("__s"))
            .select(F.col(id_col), "n_pairs",
                    F.expr("__s div n_pairs").cast("long")
                    .alias("nll_ppm")))


def lm_tail_split(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", source_col: str = "source",
                  ref_mod: int = 10, ref_keep: int = 3) -> DataFrame:
    """CCNet's head/middle/tail split: per source, rank documents by
    their :func:`lm_score` NLL and cut into perplexity terciles —
    'head' (most reference-like third, what CCNet keeps for LM
    training), 'middle', 'tail'. The cut is ntile(3) over the
    deterministic (nll_ppm, id) order, so bucket membership replays
    exactly in SQL.

    Shape: lm_score's joins, plus ONE window shuffle on the source key
    for the tercile rank. A single source's scored docs must sort
    within one partition — fine for per-language/per-domain splits; for
    a pathological mega-source, cut on [p33, p66] thresholds from the
    deterministic quantile sketch instead (sampled_quantiles) and trade
    exact terciles for bounded state.

    Returns (id, source, n_pairs, nll_ppm, bucket STRING).
    """
    scored = lm_score(df, text_col, id_col, ref_mod, ref_keep)
    src = df.select(F.col(id_col), F.col(source_col))
    w = Window.partitionBy(source_col).orderBy(
        F.asc("nll_ppm"), F.asc(id_col))
    t = (scored.join(src, id_col)
         .withColumn("__t", F.ntile(3).over(w)))
    bucket = (F.when(F.col("__t") == 1, F.lit("head"))
              .when(F.col("__t") == 2, F.lit("middle"))
              .otherwise(F.lit("tail")))
    return t.select(F.col(id_col), source_col, "n_pairs", "nll_ppm",
                    bucket.alias("bucket"))


def ngram_novelty(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", n: int = 3,
                  ref_mod: int = 10, ref_keep: int = 3) -> DataFrame:
    """N-gram novelty vs a reference slice: the fraction (ppm) of a
    document's DISTINCT word n-grams absent from the deterministic
    reference slice (``id % ref_mod < ref_keep``) — the inverse of
    contamination's containment signal, and the cheap dedup-adjacent
    screen for "is this doc just recombining reference text?".
    Reference-slice docs score exactly 0 by construction (their grams
    are in the reference) — pinned in tests.

        novelty_ppm = (n_grams − n_seen) · 10^6 div n_grams   (exact)

    Shape: one explode to distinct per-doc grams, the reference gram
    set as a DISTINCT projection of the same relation, one LEFT
    equi-join on the gram string, one per-doc agg — all integer, no
    margins. Short docs (< n tokens) contribute their single clamped
    gram, same as gram_repetition's semantics.

    Returns (id, n_grams BIGINT, n_seen BIGINT, novelty_ppm BIGINT).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if ref_mod < 1 or not (0 < ref_keep <= ref_mod):
        raise ValueError(f"bad reference slice {ref_keep}/{ref_mod}")
    base = (df.filter(F.trim(F.col(text_col)) != "")
            .select(F.col(id_col), tokens(F.col(text_col)).alias("__tk"))
            .select(F.col(id_col),
                    F.array_distinct(
                        word_ngrams_all_of(F.col("__tk"), n)).alias("__g")))
    # r12: materialize the per-doc distinct-gram stream once (eager
    # localCheckpoint) — the reference projection and the join's left
    # side both consume it, so the tokenize + n-gram + array_distinct
    # pipeline otherwise runs twice (measured 5.2-5.4 -> 4.0-4.2 s at
    # sf0.1, exceptAll-equal both ways)
    dg = (base.select(F.col(id_col), F.explode("__g").alias("__gr"))
          .transform(ckpt))
    ref = (dg.filter(F.pmod(F.col(id_col), F.lit(ref_mod)) < ref_keep)
           .select("__gr").distinct().withColumn("__hit", F.lit(1)))
    return (dg.join(ref, "__gr", "left")
            .groupBy(id_col)
            .agg(F.count("*").cast("long").alias("n_grams"),
                 F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                 .cast("long").alias("n_seen"))
            .select(F.col(id_col), "n_grams", "n_seen",
                    F.expr("(n_grams - n_seen) * 1000000 div n_grams")
                    .cast("long").alias("novelty_ppm")))


def dsir_weights(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", buckets: int = 8192,
                 ref_mod: int = 10, ref_keep: int = 3) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document by
    the log-ratio of two bag-of-hashed-ngrams unigram models — a TARGET
    model fit on the deterministic reference slice (``id % ref_mod <
    ref_keep``, the stand-in for a quality corpus) and a RAW model fit
    on the whole corpus. High weight ≈ target-like; DSIR then resamples
    by these weights, which here composes with the existing selection
    ops (``temperature_sample`` / ``quota_sample`` downstream).

    Features are word unigrams AND bigrams hashed into ``buckets``
    cells by the repo-standard md5-60-bit hash (available bit-identically
    in both engines). With add-one smoothing per bucket,

        s[b]        = floor(10^6 · ln( ((c_t[b]+1)·(N_r+B))
                                     / ((c_r[b]+1)·(N_t+B)) ))
        logw_micro  = Σ_{feature occurrences f of doc} s[bucket(f)]

    — the per-bucket score is ln of a quotient of two exact integer
    products, so only the ≤1-ulp libm wobble remains and every observed
    operand pair is floor-margin-audited in tests (the lm_score
    discipline). Exactness boundary: the products must stay below 2^53
    (N ≈ total feature occurrences; fine to ~10^26 of product mass —
    at larger corpora split the constant ln((N_r+B)/(N_t+B)) out).

    Shape: the feature stream is MAP-ONLY (tokenize + hash, no joins);
    the two count tables are hash aggregations on the bucket key
    (≤ ``buckets`` rows each — broadcastable by AQE at any corpus
    size, the whole point of hashing into a fixed grid); scoring is one
    equi-join of the stream against the B-row score table plus one
    per-doc aggregation. N_r/N_t are metadata scalars (one count
    aggregation). This is exactly why DSIR scales where KenLM-style
    scoring doesn't: model state is O(buckets), never O(vocabulary).

    Returns (id, n_feats BIGINT, logw_micro BIGINT); docs with no
    tokens are excluded (no features to score).
    """
    if buckets < 2:
        raise ValueError(f"buckets must be >= 2, got {buckets}")
    if ref_mod < 1 or not (0 < ref_keep <= ref_mod):
        raise ValueError(f"bad reference slice {ref_keep}/{ref_mod}")
    base = (df.filter(F.trim(F.col(text_col)) != "")
            .select(F.col(id_col), tokens(F.col(text_col)).alias("__tk")))
    uni = (base.select(F.col(id_col), F.explode("__tk").alias("__t"))
           .select(F.col(id_col),
                   F.concat(F.lit("1:"), F.col("__t")).alias("__f")))
    bi = (base.filter(F.size("__tk") >= 2)
          .select(F.col(id_col),
                  F.explode(_adjacent_pairs(F.col("__tk"))).alias("p"))
          .select(F.col(id_col),
                  F.concat(F.lit("2:"), F.col("p.a"), F.lit(" "),
                           F.col("p.b")).alias("__f")))
    bucket = (F.conv(F.substring(F.md5(F.col("__f")), 1, 15), 16, 10)
              .cast("long") % buckets)
    feats = (uni.unionAll(bi)
             .select(F.col(id_col), bucket.alias("__b"),
                     (F.pmod(F.col(id_col), F.lit(ref_mod)) < ref_keep)
                     .alias("__ref")))
    # ONE aggregation yields both models (raw count + target count per
    # bucket), and the totals fold from the <=B-row bucket table instead
    # of a second full pass over the stream — the feature stream is
    # computed exactly twice (totals action + scoring query), not 4x
    from bqetl_spark.caching import ckpt, pin

    counts = pin(feats.groupBy("__b")
                 .agg(F.count("*").alias("__cr"),
                      F.sum(F.col("__ref").cast("long")).alias("__ct")))
    totals = counts.agg(F.sum("__cr").alias("nr"),
                        F.sum("__ct").alias("nt")).first()
    n_r, n_t = totals["nr"] or 0, totals["nt"] or 0
    if n_t == 0:
        return (base.select(F.col(id_col),
                            F.lit(0).cast("long").alias("n_feats"),
                            F.lit(0).cast("long").alias("logw_micro"))
                .limit(0))
    num = (F.col("__ct") + 1) * F.lit(int(n_r) + buckets)
    den = (F.col("__cr") + 1) * F.lit(int(n_t) + buckets)
    score = counts.select("__b", F.floor(F.lit(10**6)
                                         * F.log(num.cast("double")
                                                 / den.cast("double")))
                          .cast("long").alias("__s"))
    return (feats.join(score, "__b")
            .groupBy(id_col)
            .agg(F.count("*").cast("long").alias("n_feats"),
                 F.sum("__s").cast("long").alias("logw_micro")))


def lm_tail_split_trained(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id",
                          source_col: str = "source",
                          ref_mod: int = 10, ref_keep: int = 3,
                          cal_keep: int = 2) -> DataFrame:
    """CCNet's split with TRAINED thresholds (r8 — closes the README
    roadmap item left open at r7): instead of ntile(3) ranking every
    document (:func:`lm_tail_split` — needs a full per-source sort),
    the [t33, t66] cut points are CALIBRATED on a held-out slice and
    then applied as two broadcastable scalars per source. This is
    CCNet's actual production shape: thresholds come from a sample,
    the corpus is classified map-side — O(sources) state, no
    corpus-wide sort, and adding documents later reuses the same cuts
    (ntile re-buckets everything).

    Held-out discipline: the LM trains on ``id % ref_mod < ref_keep``
    (lm_score's slice); calibration uses the DISJOINT slice
    ``ref_keep <= id % ref_mod < ref_keep + cal_keep`` — scoring your
    own training text underestimates tail perplexity, so the cuts
    would skew without the split. Thresholds are exact lower order
    statistics (rank (n-1) div 3 + 1 and (2*(n-1)) div 3 + 1 over the
    deterministic (nll_ppm, id) order — sampled_quantiles' selection
    convention), so the whole result replays in SQL.

    bucket: nll <= t33 -> 'head', <= t66 -> 'middle', else 'tail';
    documents of a source with NO calibration docs get 'uncalibrated'
    (explicit, not silently head).

    Shape: lm_score's joins + ONE window over the ~cal_keep/ref_mod
    calibration fraction per source + a broadcastable per-source
    threshold join + a map-side CASE. Returns
    (id, source, n_pairs, nll_ppm, bucket STRING).
    """
    if cal_keep < 1 or ref_keep + cal_keep > ref_mod:
        raise ValueError(
            f"calibration slice [{ref_keep}, {ref_keep + cal_keep}) must "
            f"fit inside ref_mod={ref_mod}")
    scored = (lm_score(df, text_col, id_col, ref_mod, ref_keep)
              .join(df.select(F.col(id_col), F.col(source_col)), id_col))
    m = F.pmod(F.col(id_col), F.lit(ref_mod))
    cal = scored.filter((m >= ref_keep) & (m < ref_keep + cal_keep))
    w = Window.partitionBy(source_col).orderBy(F.asc("nll_ppm"),
                                               F.asc(id_col))
    ranked = (cal.withColumn("__r", F.row_number().over(w))
              .withColumn("__n", F.count("*").over(
                  Window.partitionBy(source_col))))
    t33 = (ranked.filter(F.col("__r") == F.expr("(__n - 1) div 3 + 1"))
           .select(source_col, F.col("nll_ppm").alias("__t33")))
    t66 = (ranked.filter(F.col("__r") == F.expr("(2 * (__n - 1)) div 3 + 1"))
           .select(source_col, F.col("nll_ppm").alias("__t66")))
    bucket = (F.when(F.col("__t33").isNull(), F.lit("uncalibrated"))
              .when(F.col("nll_ppm") <= F.col("__t33"), F.lit("head"))
              .when(F.col("nll_ppm") <= F.col("__t66"), F.lit("middle"))
              .otherwise(F.lit("tail")))
    return (scored.join(F.broadcast(t33), source_col, "left")
            .join(F.broadcast(t66), source_col, "left")
            .select(F.col(id_col), source_col, "n_pairs", "nll_ppm",
                    bucket.alias("bucket")))


def lang_id_trained(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", lang_col: str = "lang",
                    buckets: int = 4096, ref_mod: int = 10,
                    ref_keep: int = 3) -> DataFrame:
    """Trained hashed character-n-gram language classifier (r9) — the
    published fastText langid shape (Joulin et al. 2016) on the repo's
    DSIR machinery: char TRIGRAMS of the lowercased text md5-hashed
    into ``buckets`` cells, a per-language multinomial Naive-Bayes
    model fit on the deterministic labeled slice
    ``id % ref_mod < ref_keep``, then every document classified by
    integer log-likelihood argmax. Upgrades the stopword-overlap
    heuristic (:func:`lang_id`): learned evidence covers scripts and
    vocabulary the 5-language stopword lists cannot (accuracy floor
    vs the heuristic pinned in tests).

    Per (language L, bucket b), with add-one smoothing:

        s[L][b]   = floor(10^6 · ln((c_L[b]+1) / (N_L+B)))
        ll[d][L]  = Σ_{buckets b of doc d} n_d[b] · s[L][b]

    prediction = argmax_L ll (ties by language code ASC). The ln
    argument is a quotient of two exact integers (< 2^53 always —
    c and N are corpus counts), so only libm's ≤1-ulp wobble remains
    and the observed operand pairs are floor-margin-audited in tests;
    the per-doc sums and the argmax are pure BIGINT — no float
    tie-break anywhere.

    Why it scales (DSIR's argument verbatim): model state is
    O(languages × buckets) regardless of corpus size — broadcastable
    at 100 TB; the feature stream is MAP-ONLY (lower + substring +
    hash); training is one hash aggregation over the labeled slice;
    scoring is one broadcast equi-join of the per-doc bucket grid
    against the model plus one (doc, lang) aggregation and a top-1
    window. Unseen buckets fall back to the language's smoothing
    floor via coalesce (s_missing = floor(10^6·ln(1/(N_L+B)))).

    Returns (id, <lang_col> — the labeled truth, pred_lang STRING,
    ll_micro BIGINT of the winning language). Documents shorter than
    one trigram are excluded (no evidence).
    """
    if buckets < 2:
        raise ValueError(f"buckets must be >= 2, got {buckets}")
    if ref_mod < 1 or not (0 < ref_keep <= ref_mod):
        raise ValueError(f"bad training slice {ref_keep}/{ref_mod}")
    base = (df.select(F.col(id_col), F.col(lang_col),
                      F.lower(F.col(text_col)).alias("__txt"))
            .filter(F.length("__txt") >= 3))
    gram = F.explode(F.expr(
        "transform(sequence(1, length(__txt) - 2), "
        "i -> substring(__txt, i, 3))")).alias("__g")
    bucket = (F.conv(F.substring(F.md5(F.col("__g")), 1, 15), 16, 10)
              .cast("long") % buckets)
    feats = (base.select(F.col(id_col), F.col(lang_col), gram)
             .select(F.col(id_col), F.col(lang_col),
                     bucket.alias("__b")))
    from bqetl_spark.caching import ckpt, pin

    docfeat = pin(feats.groupBy(id_col, "__b")
                  .agg(F.count("*").cast("long").alias("__n")))
    train = (feats.filter(F.pmod(F.col(id_col), F.lit(ref_mod)) < ref_keep)
             .groupBy(F.col(lang_col).alias("__lang"), "__b")
             .agg(F.count("*").cast("long").alias("__c")))
    train = pin(train)
    totals = pin(train.groupBy("__lang")
                 .agg(F.sum("__c").cast("long").alias("__nl")))
    ln_score = F.floor(
        F.lit(10**6) * F.log((F.col("__c") + 1).cast("double")
                             / (F.col("__nl") + buckets).cast("double"))
    ).cast("long")
    model = (train.join(F.broadcast(totals), "__lang")
             .select("__lang", "__b", ln_score.alias("__s")))
    # smoothing floor for buckets a language never saw in training
    miss = totals.select(
        "__lang",
        F.floor(F.lit(10**6)
                * F.log(F.lit(1.0)
                        / (F.col("__nl") + buckets).cast("double")))
        .cast("long").alias("__s0"))
    ll = (docfeat.crossJoin(F.broadcast(miss))
          .join(F.broadcast(model), ["__lang", "__b"], "left")
          .groupBy(id_col, "__lang")
          .agg(F.sum(F.col("__n")
                     * F.coalesce(F.col("__s"), F.col("__s0")))
               .cast("long").alias("__ll")))
    w = Window.partitionBy(id_col).orderBy(F.desc("__ll"), F.asc("__lang"))
    pred = (ll.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(F.col(id_col), F.col("__lang").alias("pred_lang"),
                    F.col("__ll").alias("ll_micro")))
    return (base.select(F.col(id_col), F.col(lang_col))
            .join(pred, id_col))


def perceptron_langid(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", lang_col: str = "lang",
                      buckets: int = 256, iters: int = 3,
                      ref_mod: int = 10, ref_keep: int = 3) -> DataFrame:
    """Trained multiclass BATCH perceptron language classifier (r10) —
    the second learned model family next to the Naive-Bayes
    :func:`lang_id_trained`, and the repo's demonstration that
    mistake-driven TRAINING LOOPS are expressible as exact, oracle-able
    dataframe programs: unlike NB (one counting pass), the perceptron's
    weights depend on its own previous predictions.

    Features: the lang_id_trained scheme verbatim — char trigrams of
    the lowercased text, md5-hashed into ``buckets`` cells, per-doc
    counts. Training on the deterministic labeled slice
    ``id % ref_mod < ref_keep`` for ``iters`` BATCH iterations (updates
    summed over the whole slice per iteration — order-free, unlike the
    sequential online perceptron, which is why the result is
    partition- and engine-independent):

        pred(d)  = argmax_c Σ_b n_d[b]·w_c[b]   (ties: class ASC)
        w_gold  += Σ_{d misclassified} n_d      (per bucket)
        w_pred  −= Σ_{d misclassified} n_d

    Everything is BIGINT — counts in, integer weights out, argmax on
    integer scores: NOTHING can wobble, not even a ulp (the one model
    family here with zero float anywhere, including training).

    Scale shape: training runs :func:`_batch_perceptron`'s collect
    loop. The weights are O(classes × buckets) BIGINTs held on the
    driver and planned as array literals; each iteration is one
    per-doc score aggregation over the training slice plus one bounded
    collect of the weight delta. There is no class-list crossJoin. The
    final pass scores EVERY document with the trained weights. Returns
    (id, lang, pred_lang, score BIGINT).
    """
    if buckets < 2:
        raise ValueError(f"buckets must be >= 2, got {buckets}")
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if ref_mod < 1 or not (0 < ref_keep <= ref_mod):
        raise ValueError(f"bad training slice {ref_keep}/{ref_mod}")
    from bqetl_spark.caching import pin

    base = (df.select(F.col(id_col), F.col(lang_col),
                      F.lower(F.col(text_col)).alias("__txt"))
            .filter(F.length("__txt") >= 3))
    gram = F.explode(F.expr(
        "transform(sequence(1, length(__txt) - 2), "
        "i -> substring(__txt, i, 3))")).alias("__g")
    bucket = (F.conv(F.substring(F.md5(F.col("__g")), 1, 15), 16, 10)
              .cast("long") % buckets)
    feats = (base.select(F.col(id_col), F.col(lang_col), gram)
             .select(F.col(id_col), F.col(lang_col), bucket.alias("__b")))
    docfeat = pin(feats.groupBy(id_col, lang_col, "__b")
                  .agg(F.count("*").cast("long").alias("__n")))
    final = _batch_perceptron(docfeat, id_col, lang_col, iters,
                              ref_mod, ref_keep)
    return final.select(F.col(id_col), F.col(lang_col),
                        F.col("__pred").alias("pred_lang"),
                        F.col("__s").alias("score"))


def _batch_perceptron(docfeat: DataFrame, id_col: str, label_col: str,
                      iters: int, ref_mod: int, ref_keep: int) -> DataFrame:
    """The batch-perceptron training loop of :func:`perceptron_langid`
    and :func:`quality_perceptron`: takes the materialized (id, label,
    __b bucket, __n count) feature table,
    trains for ``iters`` order-free batch iterations on the
    ``id % ref_mod < ref_keep`` slice, scores EVERY document with the
    final weights. Returns (id, label, __pred, __s) — all-BIGINT, zero
    float.

    r12 optimization (guide §2.4/§3.1): the model is O(classes ×
    buckets) BIGINTs — the same metadata scale as the IVF centroids the
    engine already collects and broadcasts — so the weights now live in
    a driver-side dict rendered into literal per-class lookup arrays:

        score_c(d) = Σ_b n_d[b]·w_c[b]      one conditional aggregation
        pred(d)    = argmin_c (−score_c, c)  array_min over class structs

    Per iteration that is ONE groupBy(id) shuffle for the predictions
    plus one bounded collect of the O(classes×buckets) weight delta —
    the r11 shape was a class-grid crossJoin + feature equi-join +
    broadcast weights join + 3-key aggregation + window argmax (per
    iteration) folded into a single deeply nested plan, which both
    shuffled the feature grid classes× per pass and paid Catalyst
    planning on the unrolled lineage. Bit-identical by construction:
    the integer sums are order-free; argmax with (score DESC, class
    ASC) tie-break ≡ array_min of (−score, class) structs; and
    sum(n·coalesce(w,0)) ≡ coalesce(sum(n·w),0) for missing buckets.
    Proven by the unchanged oracle hash at sf0.001/0.01/0.1 for all six
    dependent gates (OPTIMIZATION_r12.md). Both callers train here:
    with storage released after every call, this loop beats the
    in-plan weights-as-DataFrame loop for perceptron_langid as well,
    cold and warm (PLANS.md r14, r16)."""
    from bqetl_spark.caching import ckpt

    tr = ckpt(docfeat.filter(
        F.pmod(F.col(id_col), F.lit(ref_mod)) < ref_keep))
    classes = sorted(
        r["__c"] for r in
        tr.select(F.col(label_col).alias("__c")).distinct().collect())
    if not classes:  # empty training slice: no model, empty result
        return (docfeat.select(id_col, label_col).limit(0)
                .withColumn("__pred", F.lit(None).cast("string"))
                .withColumn("__s", F.lit(None).cast("long")))
    weights: dict[str, dict[int, int]] = {}

    def _w_expr(c):
        # dense O(1) array lookup, not a map literal: Spark's map
        # element_at is a linear scan over the entries per row, which at
        # buckets=512 × classes × rows dominates the scoring stage.
        # F.get is 0-based and NULL (not an ANSI error) out of range.
        wc = weights.get(c)
        if not wc:
            return F.lit(0).cast("long")
        dense = [0] * (max(wc) + 1)
        for b, w in wc.items():
            dense[b] = w
        # F.lit(list) folds to ONE array Literal; F.array(*lits) stays a
        # per-row CreateArray (measured 3× slower on the scoring agg)
        arr = F.lit(dense).cast("array<bigint>")
        return F.coalesce(F.get(arr, F.col("__b").cast("int")),
                          F.lit(0).cast("long"))

    def _score_pred(feat):
        scored = (feat.groupBy(id_col, label_col)
                  .agg(*[F.coalesce(F.sum(F.col("__n") * _w_expr(c)),
                                    F.lit(0)).cast("long")
                         .alias(f"__s_{i}")
                         for i, c in enumerate(classes)]))
        best = F.array_min(F.array(*[
            F.struct((-F.col(f"__s_{i}")).cast("long").alias("n"),
                     F.lit(c).alias("c"))
            for i, c in enumerate(classes)]))
        return (scored.withColumn("__best", best)
                .select(id_col, label_col,
                        F.col("__best.c").alias("__pred"),
                        (-F.col("__best.n")).cast("long").alias("__s")))

    for _ in range(iters):
        mis = (_score_pred(tr)
               .filter(F.col("__pred") != F.col(label_col))
               .select(id_col, label_col, "__pred"))
        upd = F.explode(F.array(
            F.struct(F.col(label_col).alias("__cls"),
                     F.col("__n").alias("__d")),
            F.struct(F.col("__pred").alias("__cls"),
                     (-F.col("__n")).alias("__d")))).alias("u")
        delta = (tr.join(mis, [id_col, label_col])
                 .select("__b", upd)
                 .groupBy(F.col("u.__cls").alias("__cls"), "__b")
                 .agg(F.sum(F.col("u.__d")).cast("long").alias("__dw"))
                 .collect())
        for row in delta:  # bounded: ≤ classes × buckets rows
            wc = weights.setdefault(row["__cls"], {})
            wc[row["__b"]] = wc.get(row["__b"], 0) + row["__dw"]
    return _score_pred(docfeat)


def quality_perceptron(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", buckets: int = 512,
                       iters: int = 3, ref_mod: int = 10,
                       ref_keep: int = 3) -> DataFrame:
    """TRAINED quality classifier (r11) — the fastText shape production
    pipelines actually use for quality filtering (weakly supervised
    linear model over hashed word n-grams), closing the quality-filter
    story from hand rules (:func:`quality_score`) to a learned model:

    - WEAK LABELS from Gopher/C4-style rules, restated in exact
      integer arithmetic (no float thresholds anywhere): keep ⇔
      n_tokens ≥ 40 AND 10·Σ word_len ≤ 48·n_tokens (mean word
      length ≤ 4.8) AND 5·punct_chars ≤ n_chars (punctuation ratio
      ≤ 0.2) — the distant-supervision step: rules label a slice, the
      model generalizes them over features the rules never see.
      (Cut points sit inside this corpus's observed distributions —
      n_tokens 10..99, mean word length 3.7..5.3 — so both classes are
      populated; a degenerate single-class labeling trains nothing.);
    - FEATURES: the DSIR stream (:func:`dsir_weights`) — word unigrams
      AND bigrams hashed into ``buckets`` cells by the repo-standard
      md5-60-bit hash — then LENGTH-NORMALIZED the way fastText
      averages its feature vectors, integerized: per-doc feature mass
      = floor(count·10⁶ / total_count). Without this the classifier
      degenerates: 'keep' docs are the LONGER docs here, so raw counts
      give the keep class more aggregate mass in every bucket and
      batch training collapses to the majority class (measured: all-500
      'keep' at any iteration count). Normalizing erases the length
      cue entirely, so the stream also carries an explicit LENGTH-BIN
      feature (``3:<n_tokens div 8>``, repeated ``n_tokens div 4``
      times so it keeps real mass after normalization) — the standard
      fastText move of feeding engineered indicator features next to
      the n-grams. Measured at sf0.01: content-only features plateau
      at 64% held-out (majority class); with the length bin the same
      3-iteration loop reaches 95%/97% train/held-out;
    - TRAINING: the :func:`_batch_perceptron` loop (the
      perceptron_langid discipline) on the deterministic slice
      ``id % ref_mod < ref_keep`` — batch updates, integer weights,
      argmax with class-ASC tie-break, zero float in training OR
      inference.

    Returns (id, weak_keep BOOLEAN, pred_keep BOOLEAN, score BIGINT) for
    EVERY non-empty document (scored with the trained weights, training
    slice included — split into train/held-out downstream for the
    confusion-matrix evaluation).

    Scale shape: weak labels + features are map-only; model state is
    O(2 × buckets) broadcast; same 2-shuffles-per-iteration loop as
    perceptron_langid. At 100 TB: train on a sampled slice, score the
    corpus with one broadcast join — exactly this plan."""
    if buckets < 2:
        raise ValueError(f"buckets must be >= 2, got {buckets}")
    from bqetl_spark.caching import ckpt, pin

    c = F.col(text_col)
    toks = tokens(c)
    n_tok = F.size(toks)
    sum_len = F.aggregate(toks, F.lit(0).cast("long"),
                          lambda a, w: a + F.length(w))
    n_chars = F.length(c)
    punct = n_chars - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    weak = ((n_tok >= 40) & (10 * sum_len <= 48 * n_tok)
            & (5 * punct <= n_chars))
    base = (df.filter(F.trim(c) != "")
            .select(F.col(id_col),
                    F.when(weak, F.lit("keep")).otherwise(F.lit("toss"))
                    .alias("__lbl"),
                    toks.alias("__tk")))
    uni = (base.select(F.col(id_col), "__lbl",
                       F.explode("__tk").alias("__t"))
           .select(F.col(id_col), "__lbl",
                   F.concat(F.lit("1:"), F.col("__t")).alias("__f")))
    bi = (base.filter(F.size("__tk") >= 2)
          .select(F.col(id_col), "__lbl",
                  F.explode(_adjacent_pairs(F.col("__tk"))).alias("p"))
          .select(F.col(id_col), "__lbl",
                  F.concat(F.lit("2:"), F.col("p.a"), F.lit(" "),
                           F.col("p.b")).alias("__f")))
    lenbin = (base.select(
        F.col(id_col), "__lbl",
        F.explode(F.array_repeat(
            F.concat(F.lit("3:"),
                     F.expr("cast(size(__tk) div 8 as string)")),
            F.expr("cast(greatest(size(__tk) div 4, 1) as int)"))
        ).alias("__f")))
    bucket = (F.conv(F.substring(F.md5(F.col("__f")), 1, 15), 16, 10)
              .cast("long") % buckets)
    raw = (uni.unionAll(bi).unionAll(lenbin)
           .select(F.col(id_col), "__lbl", bucket.alias("__b"))
           .groupBy(id_col, "__lbl", "__b")
           .agg(F.count("*").cast("long").alias("__c")))
    docfeat = ckpt(
        raw.withColumn("__tot", F.sum("__c").over(Window.partitionBy(id_col)))
        # SQL div: integer division, = floor for these positive operands
        # (Spark div truncates, DuckDB // floors — they agree at >= 0)
        .withColumn("__n", F.expr("(__c * 1000000) div __tot").cast("long"))
        .drop("__c", "__tot"))
    final = _batch_perceptron(docfeat, id_col, "__lbl", iters,
                              ref_mod, ref_keep)
    return final.select(
        F.col(id_col),
        (F.col("__lbl") == "keep").alias("weak_keep"),
        (F.col("__pred") == "keep").alias("pred_keep"),
        F.col("__s").alias("score"))


def zipf_slope(df: DataFrame, text_col: str = "text",
               group_col: str = "lang", max_rank: int = 1000) -> DataFrame:
    """Zipf's-law exponent per group: OLS slope of ln(frequency) on
    ln(rank) over the top ``max_rank`` token types — the corpus-health
    twin of the Heaps curve (:func:`vocab_growth`): natural language
    sits near s ≈ 1; templated/boilerplate corpora flatten, gibberish
    steepens.

    Integerized so the published value is exact given identical floors
    (the token_entropy discipline): x = floor(10⁶·ln r),
    y = floor(10⁶·ln c) — both ln arguments are plain integers, the
    only float op; every observed argument is floor-margin-audited
    (ranks 1..max_rank exhaustively). The regression itself is pure
    integer algebra over those floors:

        num = n·Σxy − Σx·Σy          (negative when Zipfian)
        den = n·Σx² − (Σx)²          (> 0 for n ≥ 2 distinct ranks)
        s_ppm = greatest(−num, 0)·10⁶ div den

    — the NEGATED slope (the conventional positive exponent), clamped
    at 0 so the integral div never sees a negative dividend (Spark's
    div truncates toward zero, DuckDB's // floors: they disagree ONLY
    below zero, so the clamp is what keeps the gate engine-exact).

    Shape: one token-count aggregation (the only data-sized shuffle),
    a per-group top-max_rank window over the vocab table, and one
    4-sum aggregation in DECIMAL(38) (exact while 10⁶·ln-scaled sums
    stay < 10³⁸ — any real corpus). Returns
    (group_col, n_points, s_ppm).
    """
    if max_rank < 2:
        raise ValueError(f"max_rank must be >= 2, got {max_rank}")
    cnt = (df.filter(F.trim(F.col(text_col)) != "")
           .select(F.col(group_col),
                   F.explode(tokens(F.col(text_col))).alias("__t"))
           .groupBy(group_col, "__t").agg(F.count("*").alias("__c")))
    w = Window.partitionBy(group_col).orderBy(F.desc("__c"), F.asc("__t"))
    ranked = (cnt.withColumn("__r", F.row_number().over(w))
              .filter(F.col("__r") <= max_rank))
    x = F.floor(F.lit(10**6) * F.log(F.col("__r").cast("double")))
    y = F.floor(F.lit(10**6) * F.log(F.col("__c").cast("double")))
    pts = ranked.select(group_col, x.cast("decimal(20,0)").alias("__x"),
                        y.cast("decimal(20,0)").alias("__y"))
    agg = (pts.groupBy(group_col)
           .agg(F.count("*").cast("decimal(20,0)").alias("__n"),
                F.sum("__x").alias("__sx"), F.sum("__y").alias("__sy"),
                F.sum(F.expr("__x * __y")).alias("__sxy"),
                F.sum(F.expr("__x * __x")).alias("__sxx"))
           .filter(F.col("__n") >= 2))
    return agg.select(
        group_col,
        F.col("__n").cast("long").alias("n_points"),
        F.expr("""
            CAST(greatest(-(CAST(__n AS DECIMAL(38,0)) * __sxy
                            - CAST(__sx AS DECIMAL(38,0)) * __sy),
                          CAST(0 AS DECIMAL(38,0)))
                 * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0))
            div
            (CAST(__n AS DECIMAL(38,0)) * __sxx
             - CAST(__sx AS DECIMAL(38,0)) * __sx)
        """).cast("long").alias("s_ppm"))


def token_embeddings(df: DataFrame, text_col: str = "text",
                     window: int = 2, dim: int = 16,
                     min_pair: int = 2, scale: int = 1000) -> DataFrame:
    """Count-based distributional token embeddings TRAINED IN THE
    ENGINE — PPMI co-occurrence vectors compressed by signed random
    projection (the pre-neural word-embedding recipe: Levy & Goldberg
    2014 show word2vec SGNS implicitly factorizes this same PPMI
    matrix):

        ppmi(t,c) = max(0, floor(scale·ln(n_tc·T / (n_t·n_c))))
        e_k(t)    = Σ_c sign_k(c)·ppmi(t,c)        k = 0..dim−1

    with symmetric ±``window`` co-occurrence counts, marginals over
    the pair table, and the md5 ±1 signs of :func:`sketch.ams_sign` —
    so the entire training pipeline is exact integer arithmetic around
    ONE audited ln floor (the bigram_pmi boundary class; the PPMI
    clamp at 0 is the same floor boundary, audited together).

    Shape: pair expansion is MAP-ONLY (array shifts per offset — no
    token self-join); one (t,c) count shuffle; marginals are
    aggregations OF that table; the dim signed sums run UNROLLED in
    one aggregation (the ams_f2 discipline — no dim× explode).
    ``min_pair`` prunes singleton co-occurrences before ln. Model
    state: one row of ``dim`` BIGINTs per vocab type — broadcastable.
    Returns (tok, e0..e{dim-1} BIGINT).
    """
    if window < 1 or dim < 1:
        raise ValueError(f"window/dim must be >= 1, got {window}/{dim}")
    if min_pair < 1:
        raise ValueError(f"min_pair must be >= 1, got {min_pair}")
    from bqetl_spark.functions.sketch import ams_sign

    tk = (df.filter(F.trim(F.col(text_col)) != "")
          .select(tokens(F.col(text_col)).alias("__tk"))
          .filter(F.size("__tk") >= 2))
    shifted = []
    for off in range(1, window + 1):
        p = F.explode(F.zip_with(
            F.slice("__tk", 1, F.greatest(F.size("__tk") - off, F.lit(0))),
            F.slice("__tk", 1 + off,
                    F.greatest(F.size("__tk") - off, F.lit(0))),
            lambda a, b: F.struct(a.alias("t"), b.alias("c"))))
        shifted.append(tk.select(p.alias("p")).select("p.t", "p.c"))
    pairs = shifted[0]
    for s in shifted[1:]:
        pairs = pairs.unionByName(s)
    # symmetric: every (t,c) also counts as (c,t)
    sym = pairs.unionByName(pairs.select(F.col("c").alias("t"),
                                         F.col("t").alias("c")))
    # r12 (guide §1.2, §3.3): the pair table feeds the tot scalar, BOTH
    # marginals and the scoring join — materialize it once per call via
    # an eager localCheckpoint (the tot collect right below forces it
    # anyway), which ALSO truncates the lineage every downstream
    # consumer re-embeds; a measured win over pin() on the doc_embed
    # family whose plans grew to 0.2–1 MB of repeated subtrees
    cnt = (sym.groupBy("t", "c").agg(F.count("*").alias("__n"))
           .filter(F.col("__n") >= min_pair).transform(ckpt))
    tot = cnt.agg(F.sum("__n")).collect()[0][0] or 0
    if tot == 0:
        return (cnt.select(F.col("t").alias("tok"),
                           *[F.lit(0).cast("long").alias(f"e{k}")
                             for k in range(dim)]).limit(0))
    mt = cnt.groupBy("t").agg(F.sum("__n").alias("__nt"))
    # r12 (guide §1.2 step 2): the ±1 signs depend only on (k, c), so
    # compute the dim md5-derived signs ONCE per distinct context token
    # on the per-c marginal (vocab-sized) instead of per (t,c) pair row
    # — dim×|pairs| md5s become dim×|vocab|. The join carrying them to
    # the pair rows already existed (the __nc marginal join);
    # Σ sign_k(c)·ppmi is unchanged term for term.
    mc = (cnt.groupBy("c").agg(F.sum("__n").alias("__nc"))
          .select("c", "__nc", *[ams_sign(k, "c").alias(f"__sg{k}")
                                 for k in range(dim)]))
    ratio = (F.col("__n").cast("double") * F.lit(float(tot))
             / (F.col("__nt").cast("double") * F.col("__nc")))
    ppmi = F.greatest(F.floor(F.lit(scale) * F.log(ratio)), F.lit(0)) \
        .cast("long")
    scored = (cnt.join(mt, "t").join(mc, "c")
              .select("t", ppmi.alias("__p"),
                      *[F.col(f"__sg{k}") for k in range(dim)])
              .filter(F.col("__p") > 0))
    sums = [F.sum(F.col(f"__sg{k}") * F.col("__p")).cast("long")
            .alias(f"e{k}") for k in range(dim)]
    return (scored.groupBy(F.col("t").alias("tok")).agg(*sums))


def token_embed_topk(df: DataFrame, text_col: str = "text",
                     n_probes: int = 5, k: int = 5, window: int = 2,
                     dim: int = 16, min_pair: int = 2) -> DataFrame:
    """Nearest neighbours in the trained embedding space
    (:func:`token_embeddings`): for each of the ``n_probes`` most
    frequent tokens, the ``k`` most-similar other tokens by SQUARED
    cosine over the integer vectors — published as the exact rational
    cos2_ppm = dot²·10⁶ div (‖p‖²·‖t‖²), candidates restricted to
    dot > 0 (cos² is sign-blind; the integral div disagrees between
    engines below 0 — the zipf_slope clamp discipline). Ties break by
    token ASC; the probe itself is excluded.

    Shape: the probe vectors are an O(n_probes·dim) broadcast; dots
    come from a dim-key equi-join of the exploded components (fanout
    ``dim`` per vocab row — no BNLJ, no vocab self-join); one window
    ranks per probe. Returns (probe, tok, cos2_ppm, rnk).
    """
    if n_probes < 1 or k < 1:
        raise ValueError(f"n_probes/k must be >= 1, got {n_probes}/{k}")
    # vocab-sized model table consumed from four join sides (probes,
    # components, norms) — eager localCheckpoint so training runs once
    # per call AND the trained-table lineage stops re-embedding in every
    # consumer subplan (r12; measured ≥ pin on this gate, a clear win on
    # the doc_embed gates sharing the discipline)
    emb = token_embeddings(df, text_col, window=window, dim=dim,
                           min_pair=min_pair).transform(ckpt)
    freq = (df.filter(F.trim(F.col(text_col)) != "")
            .select(F.explode(tokens(F.col(text_col))).alias("tok"))
            .groupBy("tok").agg(F.count("*").alias("__f")))
    probes = (freq.join(emb.select("tok"), "tok")
              .orderBy(F.desc("__f"), F.asc("tok")).limit(n_probes)
              .select("tok"))
    comp = emb.select(
        "tok", F.posexplode(F.array(*[F.col(f"e{i}")
                                      for i in range(dim)]))
        .alias("__k", "__e"))
    norm = (comp.groupBy("tok")
            .agg(F.sum(F.expr("CAST(__e AS DECIMAL(19,0)) * __e"))
                 .cast("decimal(38,0)").alias("__n2")))
    pcomp = (probes.join(comp, "tok")
             .select(F.col("tok").alias("probe"), "__k",
                     F.col("__e").alias("__pe")))
    dots = (comp.join(F.broadcast(pcomp), "__k")
            .filter(F.col("tok") != F.col("probe"))
            .groupBy("probe", "tok")
            .agg(F.sum(F.expr("CAST(__pe AS DECIMAL(19,0)) * __e"))
                 .cast("decimal(38,0)").alias("__dot"))
            .filter(F.col("__dot") > 0))
    np_ = norm.select(F.col("tok").alias("probe"),
                      F.col("__n2").alias("__np"))
    cos2 = F.expr("""
        CAST(__dot * __dot * 1000000 AS DECIMAL(38,0))
        div CAST(__np * __n2 AS DECIMAL(38,0))""")
    ranked = (dots.join(F.broadcast(np_), "probe").join(norm, "tok")
              .select("probe", "tok", cos2.cast("long").alias("cos2_ppm")))
    w = Window.partitionBy("probe").orderBy(F.desc("cos2_ppm"),
                                            F.asc("tok"))
    return (ranked.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select("probe", "tok", "cos2_ppm",
                    F.col("rnk").cast("long").alias("rnk")))


def _doc_vectors(df: DataFrame, text_col: str, id_col: str, window: int,
                 dim: int, min_pair: int) -> tuple[DataFrame, DataFrame]:
    """Pooled exact-BIGINT document vectors over :func:`token_embeddings`
    — the shared front half of ``doc_embed_topk`` (exact search) and
    ``doc_embed_ann`` (IVF-routed search). Returns ``(dcomp, norm)``:
    per-dimension components ``(id_col, __k, __e BIGINT)`` and nonzero
    squared norms ``(id_col, __n2 DECIMAL(38,0))``.

    Shape: one (doc, tok) tf aggregation + an equi-join against the
    vocab-bounded (broadcastable) embedding component table — never a
    doc×doc or doc×vocab cross product. Both returns are EAGERLY
    localCheckpoint-ed (r12): every caller consumes them from several
    join sides, and with plain pin() the repeated lineage grew the
    doc_embed_ann plan to 1 MB / 566 Exchange nodes — Catalyst
    canonicalization, not execution, dominated (the unigram-EM finding;
    measured ckpt < pin on both doc gates in alternating A/B)."""
    emb = token_embeddings(df, text_col, window=window, dim=dim,
                           min_pair=min_pair)
    comp = emb.select(
        "tok", F.posexplode(F.array(*[F.col(f"e{i}")
                                      for i in range(dim)]))
        .alias("__k", "__e"))
    docc = (df.filter(F.trim(F.col(text_col)) != "")
            .select(F.col(id_col), F.explode(tokens(F.col(text_col)))
                    .alias("tok"))
            .groupBy(id_col, "tok").agg(F.count("*").alias("__tf")))
    dcomp = (docc.join(comp, "tok")
             .groupBy(id_col, "__k")
             .agg(F.sum(F.col("__tf") * F.col("__e"))
                  .cast("long").alias("__e")))
    dcomp = dcomp.transform(ckpt)
    norm = (dcomp.groupBy(id_col)
            .agg(F.sum(F.expr("CAST(__e AS DECIMAL(19,0)) * __e"))
                 .cast("decimal(38,0)").alias("__n2"))
            .filter(F.col("__n2") > 0).transform(ckpt))
    return dcomp, norm


def doc_embed_topk(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", n_probes: int = 5, k: int = 5,
                   window: int = 2, dim: int = 16,
                   min_pair: int = 2) -> DataFrame:
    """DOCUMENT-level semantic search over embeddings TRAINED IN THE
    ENGINE (r11): each document's vector is the tf-weighted SUM of its
    tokens' :func:`token_embeddings` vectors — sum pooling, not mean,
    because cosine is per-vector scale-invariant so the two rank
    identically and the sum stays exact BIGINT. The classic
    train-your-own-embeddings retrieval pipeline (PPMI + projection ≈
    what SGNS factorizes; pooled doc vectors ≈ the pre-neural doc2vec
    baseline), end to end in one engine with ONE audited ln floor.

    For each of the first ``n_probes`` doc ids with a nonzero vector,
    the ``k`` nearest other documents by the exact squared-cosine
    rational cos2_ppm = dot²·10⁶ div (‖p‖²·‖d‖²), candidates dot > 0,
    ties by ascending doc id (the token_embed_topk conventions).
    Exactness bound (corrected per ADVICE r11): dot ≤ dim·c² for
    max pooled |component| c, so dot²·10⁶ < 10³⁸ needs
    c < √(10¹⁶/dim) ≈ 2.5·10⁷ at dim=16 — NOT the ~10⁸ previously
    documented (at c≈10⁸ the product would overflow DECIMAL(38,0),
    where Spark silently NULLs and DuckDB HUGEINT errors — a silent
    cross-engine divergence). Measured c = 3.3·10⁴ at sf0.1 (≈760×
    margin); tests/test_oracle_margins.py audits the bound so it's
    tracked as corpora grow. At larger corpora right-shift the pooled
    components by a documented power of two.

    Shape: pooling is one (doc, tok) tf aggregation + a vocab-key
    equi-join against the broadcastable embedding table; dots come
    from the dim-key equi-join of exploded components (fanout dim per
    doc — no doc self-join); one window ranks per probe. Returns
    (probe_doc, doc_id, cos2_ppm, rnk)."""
    if n_probes < 1 or k < 1:
        raise ValueError(f"n_probes/k must be >= 1, got {n_probes}/{k}")
    dcomp, norm = _doc_vectors(df, text_col, id_col, window, dim,
                               min_pair)
    probes = (norm.orderBy(F.asc(id_col)).limit(n_probes)
              .select(F.col(id_col).alias("probe_doc")))
    pcomp = (probes.join(dcomp, probes["probe_doc"] == dcomp[id_col])
             .select("probe_doc", "__k", F.col("__e").alias("__pe")))
    dots = (dcomp.join(F.broadcast(pcomp), "__k")
            .filter(F.col(id_col) != F.col("probe_doc"))
            .groupBy("probe_doc", id_col)
            .agg(F.sum(F.expr("CAST(__pe AS DECIMAL(19,0)) * __e"))
                 .cast("decimal(38,0)").alias("__dot"))
            .filter(F.col("__dot") > 0))
    np_ = norm.select(F.col(id_col).alias("probe_doc"),
                      F.col("__n2").alias("__np"))
    cos2 = F.expr("""
        CAST(__dot * __dot * 1000000 AS DECIMAL(38,0))
        div CAST(__np * __n2 AS DECIMAL(38,0))""")
    ranked = (dots.join(F.broadcast(np_), "probe_doc").join(norm, id_col)
              .select("probe_doc", id_col,
                      cos2.cast("long").alias("cos2_ppm")))
    w = Window.partitionBy("probe_doc").orderBy(F.desc("cos2_ppm"),
                                                F.asc(id_col))
    return (ranked.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select("probe_doc", id_col, "cos2_ppm",
                    F.col("rnk").cast("long").alias("rnk")))


def doc_embed_ann(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", n_probes: int = 5, k: int = 5,
                  window: int = 2, dim: int = 16, min_pair: int = 2,
                  n_lists: int = 8, n_probe_lists: int = 3) -> DataFrame:
    """IVF-routed document search over the engine-trained embeddings —
    the SCALE path next to :func:`doc_embed_topk`'s exact audit tier
    (r12, VERDICT r11 item 3: "the dense leg must route through IVF at
    corpus scale"). Same pooled exact-BIGINT doc vectors, same probes,
    same exact squared-cosine scoring — but candidates come from an
    inverted-file bucket equi-join instead of scoring every document:
    each doc lands in its nearest of ``n_lists`` seeded centroid lists,
    each probe scans only its ``n_probe_lists`` nearest lists.

    EXACT-INTEGER IVF (what makes this hash-certifiable where the
    float-cosine ANN gates need margin audits): the seeds are corpus
    vectors themselves (every ``count div n_lists``-th doc id — the
    certified ``ivf_topk`` seeding), so the coarse assignment can rank
    lists by the RATIONAL squared cosine dot²/(‖d‖²·‖s‖²) with the
    common ‖d‖² dropped: q = sign(dot)·(dot²·10⁶ div ‖s‖²), computed
    in DECIMAL(38,0) with only positive integral division — bit-equal
    in Spark and DuckDB, ties broken by ascending list id. Same
    overflow ceiling as the scoring stage (|component| < ~2.5·10⁷ at
    dim=16, audited in tests/test_oracle_margins discipline).

    Approximate by DESIGN (a probe's true neighbor can live in an
    unprobed list) yet fully DETERMINISTIC — so unlike the float ANN
    family this gate hash-matches its oracle exactly; the recall floor
    vs the exact tier is pinned in tests (the hard_negatives_ann
    pattern). Scale shape: assignment is one broadcast equi-join
    against n_lists·dim seed components + a (doc,list) aggregation —
    the FAISS IVF coarse-quantize cost O(N·dim·n_lists) with no
    all-pairs anywhere; candidate generation is a bucket equi-join
    against the ≤ n_probes·n_probe_lists-row broadcast probe table.
    Returns (probe_doc, doc_id, cos2_ppm, rnk)."""
    if n_probes < 1 or k < 1:
        raise ValueError(f"n_probes/k must be >= 1, got {n_probes}/{k}")
    if n_lists < 2 or not 1 <= n_probe_lists <= n_lists:
        raise ValueError(
            f"need n_lists >= 2 and 1 <= n_probe_lists <= n_lists, "
            f"got {n_lists}/{n_probe_lists}")
    # _doc_vectors checkpoints both returns (r12) — the seed join and
    # the scoring join re-read the pooled components; the probe/corpus
    # assignment both re-read norms
    dcomp, norm = _doc_vectors(df, text_col, id_col, window, dim,
                               min_pair)

    # seeds: every strideth doc id with a nonzero vector (ivf_topk's
    # deterministic seeding — metadata-scale count, no global sort)
    n = norm.count()
    stride = max(1, n // n_lists)
    seeds = (norm.filter(F.pmod(F.col(id_col), F.lit(stride)) == 0)
             .orderBy(F.asc(id_col)).limit(n_lists)
             .select(F.col(id_col).alias("list_id"),
                     F.col("__n2").alias("__sn2")))
    scomp = (seeds.join(dcomp, seeds["list_id"] == dcomp[id_col])
             .select("list_id", "__sn2", "__k",
                     F.col("__e").alias("__se")))

    # coarse assignment: dim-key equi-join against the broadcast
    # n_lists·dim seed component table -> (vec, list) dots -> exact
    # rational quality -> rank lists per vector
    adots = (dcomp.join(F.broadcast(scomp), "__k")
             .groupBy(id_col, "list_id", "__sn2")
             .agg(F.sum(F.expr("CAST(__se AS DECIMAL(19,0)) * __e"))
                  .cast("decimal(38,0)").alias("__dot")))
    q = (F.when(F.col("__dot") < 0, F.lit(-1)).otherwise(F.lit(1))
         .cast("long")
         * F.expr("""CAST(__dot * __dot * 1000000 AS DECIMAL(38,0))
                     div __sn2""").cast("long"))
    aw = Window.partitionBy(id_col).orderBy(F.desc("__q"),
                                            F.asc("list_id"))
    # eagerly checkpointed (r12): the corpus assignment (__r == 1) and
    # the probe assignment (__r <= n_probe_lists) both read this —
    # unmaterialized, the dim-key join + aggregation + window run twice
    # per call AND their lineage re-embeds in both consumer subtrees
    assign = (adots.select(id_col, "list_id", q.alias("__q"))
              .withColumn("__r", F.row_number().over(aw))
              .transform(ckpt))
    c_assign = (assign.filter(F.col("__r") == 1)
                .select(id_col, "list_id"))

    probes = (norm.orderBy(F.asc(id_col)).limit(n_probes)
              .select(F.col(id_col).alias("probe_doc")))
    p_assign = (probes
                .join(assign.filter(F.col("__r") <= n_probe_lists),
                      probes["probe_doc"] == assign[id_col])
                .select("probe_doc", "list_id"))

    # candidates: bucket equi-join; the probe side is <=
    # n_probes·n_probe_lists rows -> broadcast
    cand = (c_assign.join(F.broadcast(p_assign), "list_id")
            .filter(F.col(id_col) != F.col("probe_doc"))
            .select("probe_doc", id_col).distinct())

    # exact scoring on candidates only — doc_embed_topk's arithmetic
    pcomp = (probes.join(dcomp, probes["probe_doc"] == dcomp[id_col])
             .select("probe_doc", "__k", F.col("__e").alias("__pe")))
    dots = (cand
            .join(dcomp, id_col)
            .join(F.broadcast(pcomp),
                  ["probe_doc", "__k"])
            .groupBy("probe_doc", id_col)
            .agg(F.sum(F.expr("CAST(__pe AS DECIMAL(19,0)) * __e"))
                 .cast("decimal(38,0)").alias("__dot"))
            .filter(F.col("__dot") > 0))
    np_ = norm.select(F.col(id_col).alias("probe_doc"),
                      F.col("__n2").alias("__np"))
    cos2 = F.expr("""
        CAST(__dot * __dot * 1000000 AS DECIMAL(38,0))
        div CAST(__np * __n2 AS DECIMAL(38,0))""")
    ranked = (dots.join(F.broadcast(np_), "probe_doc").join(norm, id_col)
              .select("probe_doc", id_col,
                      cos2.cast("long").alias("cos2_ppm")))
    w = Window.partitionBy("probe_doc").orderBy(F.desc("cos2_ppm"),
                                                F.asc(id_col))
    return (ranked.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select("probe_doc", id_col, "cos2_ppm",
                    F.col("rnk").cast("long").alias("rnk")))
