"""Unigram-LM (SentencePiece-style) subword tokenizer training.

Beyond-reference, training-pipeline surface — the standard ALTERNATIVE
to merge-based BPE (functions/bpe.py): Kudo 2018 trains a unigram
language model over a seed vocabulary by EM and segments text by the
most-probable (Viterbi) token sequence. This module implements the
deterministic hard-EM variant that makes the whole train→apply chain
value-hash-oracle-able cross-engine:

- Seed: every substring of the (word, freq) corpus-collapse table up to
  ``max_token_len`` chars, counted with multiplicity × word frequency;
  bounded by ``max_seed_vocab`` (count DESC, token ASC; single
  characters always kept — coverage).
- E-step (Viterbi, integer costs): per word, the min-cost segmentation
  under cost(t) = floor(10^6·ln(total/c_t)) — the ONLY float op; the
  ln operands are exact integers and are floor-margin-audited in tests
  (the dsir/lm_score discipline). The DP runs as ONE Catalyst
  array-fold expression per word (``aggregate`` over positions with an
  array accumulator) — map-only, no joins inside the loop, no driver
  iteration over positions, and the identical fold replays in DuckDB
  via ``list_reduce``.
- Count rule (tie-safe): instead of an argmin backtrace — whose
  tie-break the two engines could disagree on only by implementation
  accident — the M-step counts every span that lies on ANY optimal
  segmentation (forward cost + span cost + backward cost == total
  optimal cost; all-integer equality). Deterministic by construction,
  no tie-break needed. Single characters get +1 smoothing so coverage
  never collapses; multi-char tokens leave the vocab when their count
  hits 0 (hard-EM's natural pruning).
- Final prune: all single chars + the top ``keep_multi`` multi-char
  tokens (count DESC, token ASC), costs re-normalized over the kept
  vocabulary.
- Apply: Viterbi with the final model; the backtrace is a second
  fold that walks right-to-left PREPENDING each chosen start position
  — at every position it takes the span with the SMALLEST start j
  (= longest token; integer min, no tie-break ambiguity) among those
  on an optimal path — so the fold's final accumulator IS the
  ascending token-boundary list [0, …, len] and tokens are just
  consecutive-boundary substrings. Emits (id, token, pos =
  word_pos·1000 + sym_pos) — bpe_apply's contract.

Scale posture (the bpe.py argument, sharpened): the corpus collapses
to the (word, freq) table in ONE shuffle; everything after runs on
vocab-sized tables (millions of rows at 100 TB, not the corpus) with
the per-word DP fully inside whole-stage-codegen'd expressions —
2 joins + 2 aggregations per EM iteration, zero driver-side collects.
Words longer than ``max_word_len`` are dropped from BOTH training and
segmentation (documented boundary; such "words" are URLs/DNA/garbage
that a real pipeline pre-splits — and they would dominate the DP
width for no vocabulary signal).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bqetl_spark.caching import ckpt, fixpoint, pin
from bqetl_spark.functions.bpe import word_freq_table

# cost assigned to an unreachable DP position; far above any real path
# cost (<= max_word_len tokens x ~3e7 micro-nats) yet BIGINT-safe even
# when one sentinel leaks into a sum
UNREACHABLE = 10**15


def _spans_expr(word_col: str, max_token_len: int):
    """array<struct(j,i,token)> of every candidate span of the word:
    0 <= j < i <= len, i - j <= max_token_len. Same closed form in the
    DuckDB oracle (list comprehension over two ranges)."""
    return F.expr(
        f"flatten(transform(sequence(0, char_length({word_col}) - 1), "
        f"j -> transform(sequence(j + 1, least(char_length({word_col}), "
        f"j + {max_token_len})), "
        f"i -> struct(j AS j, i AS i, "
        f"substring({word_col}, j + 1, i - j) AS token))))")


def _dp_forward(spans_col: str, len_col: str):
    """Viterbi prefix costs as one array fold: dp[0] = 0,
    dp[i] = min over spans (j,i) of dp[j] + cost."""
    return F.aggregate(
        F.sequence(F.lit(1), F.col(len_col)),
        F.array(F.lit(0).cast("long")),
        lambda acc, i: F.array_append(acc, F.coalesce(
            F.array_min(F.transform(
                F.filter(F.col(spans_col), lambda s: s["i"] == i),
                lambda s: F.element_at(acc, s["j"] + 1) + s["cost"])),
            F.lit(UNREACHABLE))))


def _dp_backward(spans_col: str, len_col: str):
    """Suffix costs, REVERSED storage: suf_rev[k+1] = cost of the
    optimal segmentation of word[len-k:], so suf(pos) =
    suf_rev[len - pos + 1]."""
    return F.aggregate(
        F.sequence(F.lit(1), F.col(len_col)),
        F.array(F.lit(0).cast("long")),
        lambda acc, k: F.array_append(acc, F.coalesce(
            F.array_min(F.transform(
                F.filter(F.col(spans_col),
                         lambda s: s["j"] == F.col(len_col) - k),
                lambda s: s["cost"] + F.element_at(
                    acc, F.col(len_col) - s["i"] + 1))),
            F.lit(UNREACHABLE))))


def _validate(iters, max_token_len, max_word_len, keep_multi):
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if not 2 <= max_token_len <= max_word_len:
        raise ValueError("need 2 <= max_token_len <= max_word_len, got "
                         f"{max_token_len}/{max_word_len}")
    if keep_multi < 0:
        raise ValueError(f"keep_multi must be >= 0, got {keep_multi}")


def _cost_table(vocab: DataFrame) -> DataFrame:
    """(token, cost BIGINT) with cost = floor(1e6 · ln(total / c)) —
    integer operands, one libm ln (margin-audited in tests)."""
    total = vocab.agg(F.sum("c").cast("long").alias("__total"))
    return (vocab.crossJoin(F.broadcast(total))
            .select("token",
                    F.floor(F.lit(10**6)
                            * F.log(F.col("__total").cast("double")
                                    / F.col("c").cast("double")))
                    .cast("long").alias("cost")))


def _em_counts(wf: DataFrame, cost: DataFrame,
               max_token_len: int) -> DataFrame:
    """One hard-EM E+M step: per-word Viterbi DPs as array folds, then
    count every span on ANY optimal segmentation, weighted by word
    frequency. Returns (token, c BIGINT), c > 0."""
    sp = (wf.select("word", "freq",
                    F.explode(_spans_expr("word", max_token_len))
                    .alias("s"))
          .join(cost, F.col("s.token") == F.col("token"))
          .select("word", "freq",
                  F.struct(F.col("s.j").alias("j"), F.col("s.i").alias("i"),
                           F.col("s.token").alias("token"),
                           F.col("cost").alias("cost")).alias("s")))
    byword = (sp.groupBy("word", "freq")
              .agg(F.collect_list("s").alias("spans"))
              .withColumn("len", F.char_length("word"))
              .withColumn("dp", _dp_forward("spans", "len"))
              .withColumn("suf_rev", _dp_backward("spans", "len")))
    onpath = byword.select(
        "freq",
        F.explode(F.filter(
            F.col("spans"),
            lambda s: (F.element_at(F.col("dp"), s["j"] + 1) + s["cost"]
                       + F.element_at(F.col("suf_rev"),
                                      F.col("len") - s["i"] + 1))
            == F.element_at(F.col("dp"), F.col("len") + 1))).alias("s"))
    return (onpath.groupBy(F.col("s.token").alias("token"))
            .agg(F.sum("freq").cast("long").alias("c")))


def unigram_train(docs: DataFrame, iters: int = 2, keep_multi: int = 24,
                  text_col: str = "text", max_token_len: int = 6,
                  max_word_len: int = 12, max_seed_vocab: int = 5000,
                  min_freq: int = 1,
                  max_vocab: int | None = None) -> DataFrame:
    """Train the unigram-LM tokenizer; returns the final model
    (token STRING, cnt BIGINT, nll_micro BIGINT) — nll_micro =
    floor(10^6·ln(total/cnt)) over the kept vocabulary, the cost table
    :func:`unigram_segments` consumes."""
    _validate(iters, max_token_len, max_word_len, keep_multi)
    wf = pin(word_freq_table(docs, text_col, min_freq, max_vocab)
             .filter(F.char_length("word") <= max_word_len))
    # seed: substring counts with multiplicity, bounded, chars always in
    seed = (wf.select("freq", F.explode(_spans_expr("word", max_token_len))
                      .alias("s"))
            .groupBy(F.col("s.token").alias("token"))
            .agg(F.sum("freq").cast("long").alias("c")))
    chars = pin(seed.filter(F.char_length("token") == 1)
                .select("token"))
    multi = (seed.filter(F.char_length("token") > 1)
             .orderBy(F.desc("c"), F.asc("token")).limit(max_seed_vocab))
    # EAGER localCheckpoint per EM round (the k_core/hits_fixed lineage
    # discipline, r12): each round references the previous vocab ~4×
    # (cost-table total + select, counts consumed twice), so a lazy
    # lineage grows ~4^iters — Catalyst planned a ~930-Exchange tree for
    # the 2-iter chain (plan canonicalization dominated the gates'
    # wall time). pin() cuts re-EXECUTION but not plan size; the eager
    # checkpoint cuts both, at one materializing job per round over the
    # vocab-sized table (which the lazy pin paid anyway on first use).
    vocab = (seed.join(chars, "token").unionByName(multi).distinct()
             .transform(ckpt))

    def em_round(vocab: DataFrame) -> DataFrame:
        counts = _em_counts(wf, _cost_table(vocab), max_token_len)
        # chars get +1 smoothing (coverage can never collapse); pruned
        # multi-char tokens (count 0) leave the vocabulary
        return (chars.join(counts, "token", "left")
                .select("token",
                        (F.coalesce("c", F.lit(0)) + 1).alias("c"))
                .unionByName(
                    counts.join(chars, "token", "left_anti")
                    .filter(F.col("c") > 0)))

    vocab = fixpoint(vocab, em_round, iters)
    final_multi = (vocab.filter(F.char_length("token") > 1)
                   .orderBy(F.desc("c"), F.asc("token")).limit(keep_multi))
    kept = (vocab.join(chars, "token").unionByName(final_multi)
            .distinct())
    total = kept.agg(F.sum("c").cast("long").alias("__total"))
    return (kept.crossJoin(F.broadcast(total))
            .select("token", F.col("c").alias("cnt"),
                    F.floor(F.lit(10**6)
                            * F.log(F.col("__total").cast("double")
                                    / F.col("c").cast("double")))
                    .cast("long").alias("nll_micro")))


def _occ_and_bounds(docs: DataFrame, model: DataFrame, text_col: str,
                    id_col: str, max_token_len: int, max_word_len: int):
    """Shared apply-time core: the word-occurrence stream and, per
    DISTINCT word, the optimal token-boundary list (ascending, [0, …,
    len]) from one Viterbi DP + smallest-j backtrace fold. Factored out
    (r12) so :func:`unigram_fertility` can consume per-word COUNTS
    (size(bounds) − 1) without materializing the token stream."""
    occ = (docs.select(F.col(id_col),
                       F.posexplode(F.split(F.trim(F.col(text_col)),
                                            r"\s+"))
                       .alias("word_pos", "word"))
           .filter((F.col("word") != "")
                   & (F.char_length("word") <= max_word_len)))
    words = occ.select("word").distinct()
    cost = model.select("token", F.col("nll_micro").alias("cost"))
    sp = (words.select("word",
                       F.explode(_spans_expr("word", max_token_len))
                       .alias("s"))
          .join(cost, F.col("s.token") == F.col("token"))
          .select("word",
                  F.struct(F.col("s.j").alias("j"), F.col("s.i").alias("i"),
                           F.col("s.token").alias("token"),
                           F.col("cost").alias("cost")).alias("s")))
    byword = (sp.groupBy("word")
              .agg(F.collect_list("s").alias("spans"))
              .withColumn("len", F.char_length("word"))
              .withColumn("dp", _dp_forward("spans", "len")))
    # backtrace fold: walk right-to-left from pos=len; at the current
    # position take the on-an-optimal-path span with the SMALLEST start
    # j (longest token; integer min — no float tie anywhere) and
    # PREPEND it, so the final accumulator is the ascending boundary
    # list [0, ..., len]; at most `len` steps reach 0, later steps
    # no-op behind the head<=0 guard. Tokens are consecutive-boundary
    # substrings — no backwards index juggling, no window shuffle.
    bounds = F.aggregate(
        F.sequence(F.lit(1), F.col("len")),
        F.array(F.col("len").cast("long")),
        lambda acc, _: F.when(F.element_at(acc, 1) <= 0, acc).otherwise(
            F.array_prepend(acc, F.array_min(F.transform(
                F.filter(F.col("spans"),
                         lambda s: (s["i"] == F.element_at(acc, 1))
                         & (F.element_at(F.col("dp"), s["j"] + 1)
                            + s["cost"]
                            == F.element_at(
                                F.col("dp"),
                                (F.element_at(acc, 1) + 1)
                                .cast("integer")))),
                lambda s: s["j"].cast("long"))))))
    return occ, byword.withColumn("bounds", bounds)


def unigram_segments(docs: DataFrame, model: DataFrame,
                     text_col: str = "text", id_col: str = "doc_id",
                     max_token_len: int = 6,
                     max_word_len: int = 12) -> DataFrame:
    """Segment the corpus with a trained model (:func:`unigram_train`
    output): per DISTINCT word one Viterbi DP + a smallest-j backtrace
    (both array folds), then the per-word segmentation joins back to the
    word-occurrence stream — the segment-types-once trick that makes
    apply cost O(vocab·DP) + one broadcastable equi-join instead of
    re-running the DP per occurrence. Returns (id, token, pos) with
    pos = word_pos·1000 + sym_pos (bpe_apply's contract). Words longer
    than ``max_word_len`` are dropped (the training boundary,
    documented there)."""
    occ, byword = _occ_and_bounds(docs, model, text_col, id_col,
                                  max_token_len, max_word_len)
    seg = (byword
           .select("word", F.explode(F.expr(
               "transform(sequence(1, size(bounds) - 1), k -> struct("
               "substring(word, element_at(bounds, k) + 1, "
               "element_at(bounds, k + 1) - element_at(bounds, k)) "
               "AS token, cast(k - 1 AS bigint) AS sym_pos))"))
               .alias("t"))
           .select("word", F.col("t.token").alias("token"),
                   F.col("t.sym_pos").alias("sym_pos")))
    return (occ.join(seg, "word")
            .select(id_col, "token",
                    (F.col("word_pos").cast("long") * 1000
                     + F.col("sym_pos")).alias("pos")))


def unigram_fertility(docs: DataFrame, model: DataFrame,
                      text_col: str = "text", id_col: str = "doc_id",
                      max_token_len: int = 6,
                      max_word_len: int = 12) -> DataFrame:
    """Per-document fertility statistics of the trained unigram model
    (r10) — bpe.bpe_fertility's exact contract over the unigram
    segmentation, so the two tokenizer families are eval-comparable
    row for row: (id, n_words, n_subwords, fertility_ppm =
    n_subwords·10^6 div n_words, max_word_subwords), all exact
    BIGINTs. Words over ``max_word_len`` are excluded on BOTH sides of
    the ratio (the segmentation boundary, documented there); documents
    with no kept words produce no rows.

    Shape (r12, guide §2.3): fertility needs per-word subword COUNTS
    only, so it joins the occurrence stream to a per-distinct-word
    count table (size(bounds) − 1 — exactly the number of token rows
    :func:`unigram_segments` would emit for that word) instead of
    materializing and re-aggregating the token stream: the
    tokens-per-word row fan-out through the join and one full shuffle
    drop out; output row-for-row equal."""
    occ, byword = _occ_and_bounds(docs, model, text_col, id_col,
                                  max_token_len, max_word_len)
    nsub = byword.select(
        "word", (F.size("bounds") - 1).cast("long").alias("__c"))
    per_word = occ.join(nsub, "word").select(F.col(id_col), "__c")
    return (per_word.groupBy(id_col)
            .agg(F.count("*").cast("long").alias("n_words"),
                 F.sum("__c").cast("long").alias("n_subwords"),
                 F.max("__c").cast("long").alias("max_word_subwords"))
            .select(id_col, "n_words", "n_subwords",
                    F.expr("n_subwords * 1000000 div n_words")
                    .cast("long").alias("fertility_ppm"),
                    "max_word_subwords"))
