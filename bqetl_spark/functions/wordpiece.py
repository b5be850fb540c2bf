"""Distributed WordPiece tokenizer: likelihood-scored merge training +
greedy longest-match-first segmentation.

Beyond-reference, training-pipeline surface (r10) — the THIRD subword
family, completing the tokenizer triad next to merge-count BPE
(functions/bpe.py) and unigram-LM hard-EM (functions/unigram.py).
WordPiece (Schuster & Nakajima 2012; the BERT tokenizer) differs from
BPE in exactly two places, and both are kept cross-engine
hash-oracle-able:

- **Merge score is likelihood gain, not raw count**: pick the adjacent
  pair maximizing count(l,r) / (count(l)·count(r)) over the current
  segmentation. Stored as the exact BIGINT fixed point
  ``score_ppb = count(l,r)·10^9 div (count(l)·count(r))`` — integer
  division both engines compute identically, ties broken
  (score DESC, l ASC, r ASC). Safe while total word occurrences stay
  under ~9.2e9 (BIGINT headroom of the 10^9 scale); past that, shard
  the corpus or lower the scale — documented, not silent.
- **Continuation marking**: a word encodes as [c0, ##c1, ##c2, …] (no
  '</w>'); merging (l, r) concatenates l with r's '##' stripped, so
  learned tokens carry their word-position in the token text itself.

Training reuses bpe.py's string-encoded merge step (single-space-
wrapped symbols, double-space separators, plain ``replace`` — identical
left-to-right non-overlapping scan in Spark and DuckDB); each iteration
is two vocab-table aggregations (pair counts + symbol counts), one
metadata-sized 1-row collect (the argmax), and a map-only replace.

Segmentation (greedy longest-match-first, the WordPiece apply rule) is
the unigram_segments architecture: one row per DISTINCT word, candidate
spans equi-joined against the vocabulary, then ONE whole-stage-codegen
array fold walks boundaries left to right, at each position taking the
LONGEST vocab token (integer max — no tie-break ambiguity). A word with
no vocab token at some position segments to the single '[UNK]' token
(the BERT rule); on the training corpus itself UNK is unreachable
because every character and '##'-character is in the vocabulary. The
per-word result joins back to the occurrence stream — segment once per
distinct word, not per occurrence.

Scale posture: identical to bpe/unigram — the corpus collapses to
(word, freq) in ONE shuffle; training then runs on vocab-sized tables;
apply cost is O(distinct words · word_len) folds + one broadcastable
equi-join back to occurrences. Words over ``max_word_len`` are dropped
from BOTH training and segmentation (unigram.py's documented boundary).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bqetl_spark.caching import ckpt, fixpoint
from bqetl_spark.functions.bpe import word_freq_table

WP_MERGE_SCHEMA = T.StructType([
    T.StructField("rank", T.LongType(), False),
    T.StructField("left", T.StringType(), False),
    T.StructField("right", T.StringType(), False),
    T.StructField("merged", T.StringType(), False),
    T.StructField("pair_count", T.LongType(), False),
    T.StructField("score_ppb", T.LongType(), False),
])

UNK = "[UNK]"


def _strip_cont(tok: str) -> str:
    return tok[2:] if tok.startswith("##") else tok


def _encode_wp(word_col: str = "word") -> F.Column:
    """word -> ' c0  ##c1  ##c2 ' — bpe._encode's wrapping with the
    WordPiece continuation annotation instead of '</w>'."""
    return F.expr(
        f"concat(' ', array_join(transform(sequence(1, "
        f"char_length({word_col})), i -> CASE WHEN i = 1 "
        f"THEN substring({word_col}, i, 1) "
        f"ELSE concat('##', substring({word_col}, i, 1)) END), '  '), ' ')")


def wordpiece_train(docs: DataFrame, n_merges: int = 8,
                    text_col: str = "text", min_freq: int = 1,
                    max_vocab: int | None = None,
                    max_word_len: int = 12) -> DataFrame:
    """Learn the first ``n_merges`` WordPiece merges. Returns
    (rank BIGINT from 1, left, right, merged, pair_count BIGINT,
    score_ppb BIGINT) in learned order. Stops early when no adjacent
    pair remains."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    spark = docs.sparkSession
    # r12: eager localCheckpoints instead of pin() throughout the train
    # loop — the per-round collect materializes anyway, and checkpointing
    # truncates the lineage each round's plan re-embeds (the unigram-EM
    # finding; measured faster in alternating A/B on the segments/
    # fertility gates: wordpiece_segments 8.4 → 5.5 s best-of)
    vocab = (word_freq_table(docs, text_col, min_freq, max_vocab)
             .filter(F.char_length("word") <= max_word_len)
             .select("word", "freq", _encode_wp("word").alias("s"))
             .transform(ckpt))
    merges: list[tuple] = []

    def merge_best_pair(vocab: DataFrame) -> DataFrame | None:
        sym = F.split(F.trim(F.col("s")), "  ")
        exploded = vocab.select("freq", sym.alias("sym"))
        # both broadcast branches of the score join read symcnt; AQE
        # reuses its shuffle, so the aggregation runs once per round
        symcnt = (exploded
                  .select("freq", F.explode("sym").alias("t"))
                  .groupBy("t").agg(F.sum("freq").cast("long")
                                    .alias("c")))
        pairs = (exploded
                 .filter(F.size("sym") >= 2)
                 .select("freq", F.explode(F.expr(
                     "transform(sequence(1, size(sym) - 1), i -> "
                     "struct(element_at(sym, i) AS l, "
                     "element_at(sym, i + 1) AS r))")).alias("p"))
                 .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
                 .agg(F.sum("freq").cast("long").alias("cnt")))
        # symcnt is metadata-sized (alphabet + merges-so-far symbols) —
        # broadcast both sides of the score join, no shuffle
        scored = (pairs
                  .join(F.broadcast(symcnt.select(
                      F.col("t").alias("l"), F.col("c").alias("__cl"))),
                      "l")
                  .join(F.broadcast(symcnt.select(
                      F.col("t").alias("r"), F.col("c").alias("__cr"))),
                      "r")
                  .select("l", "r", "cnt",
                          F.expr("cnt * 1000000000 div (__cl * __cr)")
                          .cast("long").alias("score")))
        # 1-row collect: argmax is metadata (bpe_train's bounded class)
        best = (scored.orderBy(F.desc("score"), F.asc("l"), F.asc("r"))
                .limit(1).collect())
        if not best:
            return None
        l, r = best[0]["l"], best[0]["r"]
        merged = l + _strip_cont(r)
        merges.append((len(merges) + 1, l, r, merged, int(best[0]["cnt"]),
                       int(best[0]["score"])))
        if len(merges) == n_merges:
            return None  # table full: the next vocab is never read
        return vocab.select(
            "word", "freq",
            F.replace(F.col("s"), F.lit(f" {l}  {r} "),
                      F.lit(f" {merged} ")).alias("s"))

    fixpoint(vocab, merge_best_pair, n_merges)
    return spark.createDataFrame(merges, WP_MERGE_SCHEMA)


def wordpiece_vocab(docs: DataFrame, merges: list[str],
                    text_col: str = "text",
                    max_word_len: int = 12) -> DataFrame:
    """The apply-time vocabulary: every initial symbol of the corpus
    (each word's first character plus '##'-marked continuations) union
    the learned merge tokens. One column (token STRING, distinct).
    ``merges`` is the merged-token list in any order (e.g. the trained
    table's ``merged`` column) — metadata-sized by construction."""
    spark = docs.sparkSession
    chars = (docs.select(F.explode(F.split(F.trim(F.col(text_col)),
                                           r"\s+")).alias("word"))
             .filter((F.col("word") != "")
                     & (F.char_length("word") <= max_word_len))
             .select(F.explode(F.expr(
                 "transform(sequence(1, char_length(word)), i -> "
                 "CASE WHEN i = 1 THEN substring(word, i, 1) "
                 "ELSE concat('##', substring(word, i, 1)) END)"))
                 .alias("token"))
             .distinct())
    if merges:
        mdf = spark.createDataFrame([(m,) for m in merges], ["token"])
        chars = chars.unionByName(mdf).distinct()
    return chars


def _occ_and_bounds(docs: DataFrame, vocab: DataFrame, text_col: str,
                    id_col: str, max_token_len: int, max_word_len: int):
    """Shared apply-time core: the word-occurrence stream and, per
    DISTINCT word, the greedy-longest-match boundary list (last element
    -1 = UNK). Factored out (r12) so :func:`wordpiece_fertility` can
    consume per-word COUNTS without materializing the token stream."""
    occ = (docs.select(F.col(id_col),
                       F.posexplode(F.split(F.trim(F.col(text_col)),
                                            r"\s+"))
                       .alias("word_pos", "word"))
           .filter((F.col("word") != "")
                   & (F.char_length("word") <= max_word_len)))
    words = occ.select("word").distinct()
    # spans: (j, i, tok) with tok position-adjusted ('##' when j > 0)
    spans = F.expr(
        f"flatten(transform(sequence(0, char_length(word) - 1), "
        f"j -> transform(sequence(j + 1, least(char_length(word), "
        f"j + {max_token_len})), "
        f"i -> struct(j AS j, i AS i, CASE WHEN j = 0 "
        f"THEN substring(word, 1, i) "
        f"ELSE concat('##', substring(word, j + 1, i - j)) END "
        f"AS tok))))")
    sp = (words.select("word", F.explode(spans).alias("s"))
          .join(vocab.select(F.col("token").alias("tok")),
                F.col("s.tok") == F.col("tok"))
          .select("word", F.struct(F.col("s.j").alias("j"),
                                   F.col("s.i").alias("i")).alias("s")))
    byword = (words
              .join(sp.groupBy("word")
                    .agg(F.collect_list("s").alias("spans")),
                    "word", "left")
              .withColumn("len", F.char_length("word")))
    # greedy fold: boundaries [0, …]; each step appends the farthest
    # reachable end from the last boundary, or -1 (UNK) when stuck; the
    # head guard freezes the accumulator once done or stuck. At most
    # `len` steps reach the end (every match advances >= 1 char).
    bounds = F.aggregate(
        F.sequence(F.lit(1), F.col("len")),
        F.array(F.lit(0).cast("long")),
        lambda acc, _: F.when(
            (F.element_at(acc, -1) < 0)
            | (F.element_at(acc, -1) >= F.col("len")), acc
        ).otherwise(F.array_append(acc, F.coalesce(
            F.array_max(F.transform(
                F.filter(F.coalesce(F.col("spans"),
                                    F.expr("array()")),
                         lambda s: s["j"] == F.element_at(acc, -1)),
                lambda s: s["i"].cast("long"))),
            F.lit(-1).cast("long")))))
    return occ, byword.withColumn("bounds", bounds)


def wordpiece_segments(docs: DataFrame, vocab: DataFrame,
                       text_col: str = "text", id_col: str = "doc_id",
                       max_token_len: int = 12,
                       max_word_len: int = 12) -> DataFrame:
    """Greedy longest-match-first segmentation against ``vocab``
    (one `token` column, '##'-marked continuations): (id, token,
    pos = word_pos·1000 + sym_pos) — bpe_apply's contract. Per
    DISTINCT word: candidate spans (position-adjusted token text)
    equi-join the vocabulary, then one array fold walks boundaries
    left to right taking the LONGEST match (integer max). A position
    with no match makes the whole word '[UNK]' (BERT's rule). Words
    over ``max_word_len`` are dropped (the training boundary); vocab
    tokens longer than ``max_token_len`` are simply never matched."""
    occ, byword = _occ_and_bounds(docs, vocab, text_col, id_col,
                                  max_token_len, max_word_len)
    seg = (byword
           .select("word", F.explode(F.expr(
               "CASE WHEN element_at(bounds, -1) = -1 "
               f"THEN array(struct('{UNK}' AS token, "
               "cast(0 AS bigint) AS sym_pos)) "
               "ELSE transform(sequence(1, size(bounds) - 1), "
               "k -> struct(CASE WHEN k = 1 "
               "THEN substring(word, 1, cast(element_at(bounds, 2) "
               "AS int)) ELSE concat('##', substring(word, "
               "cast(element_at(bounds, k) AS int) + 1, "
               "cast(element_at(bounds, k + 1) - element_at(bounds, k) "
               "AS int))) END AS token, "
               "cast(k - 1 AS bigint) AS sym_pos)) END")).alias("t"))
           .select("word", F.col("t.token").alias("token"),
                   F.col("t.sym_pos").alias("sym_pos")))
    return (occ.join(seg, "word")
            .select(id_col, "token",
                    (F.col("word_pos").cast("long") * 1000
                     + F.col("sym_pos")).alias("pos")))


def wordpiece_fertility(docs: DataFrame, vocab: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        max_token_len: int = 12,
                        max_word_len: int = 12) -> DataFrame:
    """Per-document fertility statistics of a WordPiece vocabulary —
    bpe_fertility's exact contract over the greedy segmentation, so all
    THREE tokenizer families are eval-comparable row for row. '[UNK]'
    words count 1 subword (the token actually emitted). Returns (id,
    n_words, n_subwords, fertility_ppm, max_word_subwords), exact
    BIGINTs; docs with no kept words produce no rows.

    Shape (r12, guide §2.3): per-word COUNTS join the occurrence
    stream directly (UNK → 1, else size(bounds) − 1 — exactly the
    number of token rows :func:`wordpiece_segments` would emit), so
    the token-stream fan-out and one full shuffle drop out; output
    row-for-row equal."""
    occ, byword = _occ_and_bounds(docs, vocab, text_col, id_col,
                                  max_token_len, max_word_len)
    nsub = byword.select(
        "word",
        F.when(F.element_at("bounds", -1) == -1, F.lit(1))
        .otherwise(F.size("bounds") - 1).cast("long").alias("__c"))
    per_word = occ.join(nsub, "word").select(F.col(id_col), "__c")
    return (per_word.groupBy(id_col)
            .agg(F.count("*").cast("long").alias("n_words"),
                 F.sum("__c").cast("long").alias("n_subwords"),
                 F.max("__c").cast("long").alias("max_word_subwords"))
            .select(id_col, "n_words", "n_subwords",
                    F.expr("n_subwords * 1000000 div n_words")
                    .cast("long").alias("fertility_ppm"),
                    "max_word_subwords"))
