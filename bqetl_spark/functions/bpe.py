"""Distributed BPE (byte-pair-encoding) merge-table training.

Beyond-reference, training-pipeline surface: learning a subword
vocabulary from the corpus is the canonical pre-training step the
engine's token statistics (functions/text.py) feed into. The algorithm
is Sennrich et al.'s word-frequency formulation — which is exactly what
makes it Spark-shaped: the corpus collapses to a (word, freq) table in
ONE shuffle, and every merge iteration then runs on that compact vocab
table, never rescanning the documents.

Cross-engine determinism (the whole design): symbol sequences are
encoded as strings — each symbol wrapped in single spaces, adjacent
symbols separated by TWO spaces (' l  o  w  </w> ') — so the merge step
is a plain ``replace(s, ' l  r ', ' lr ')`` whose left-to-right
non-overlapping scan is identical in Spark (Java String.replace) and
DuckDB, including the greedy 'aaa' -> ['aa','a'] case. Pair counts are
integer sums; the argmax pair breaks ties (count DESC, left ASC, right
ASC); so the full merge table is value-hash-oracle-able with the
iterations unrolled as SQL CTEs (same treatment as pagerank / the
k-means oracle unrolls).

Scale posture: the documents scan happens once (tokenize + count — the
standard word-count shuffle). Each of the ``n_merges`` iterations is one
aggregation over the vocab table (|distinct words| rows — millions at
100 TB, not the corpus size) plus a 1-ROW collect (the argmax pair —
metadata-bounded, same class as the IVF centroid collects) and a
map-only replace. Lineage is cut per iteration (eager localCheckpoint,
r12) so the plan stays O(1) sized. A vocab too large for comfort is truncated by
``min_freq`` / ``max_vocab`` — the standard practice knobs.

Iteration-count honesty: each merge costs a fixed ~seconds of job
launch regardless of data size, so the distributed loop is the right
shape for the corpus-sized part (the ONE tokenize+count scan — that is
what 100 TB changes) but not for a production 30k-merge run. The
documented path there: bound the vocab (``max_vocab`` — a frequency cut
keeps BPE quality, rare words contribute ~nothing to pair counts),
collect the compact (word, freq) table once, and run the merge loop
in-process — the same corpus-collapse observation, applied twice. The
distributed loop here keeps every step oracle-able, which is what the
gate certifies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bqetl_spark.caching import ckpt, fixpoint
from bqetl_spark.functions.text import tokens

MERGE_SCHEMA = T.StructType([
    T.StructField("rank", T.LongType(), False),
    T.StructField("left", T.StringType(), False),
    T.StructField("right", T.StringType(), False),
    T.StructField("merged", T.StringType(), False),
    T.StructField("pair_count", T.LongType(), False),
])


def word_freq_table(docs: DataFrame, text_col: str = "text",
                    min_freq: int = 1,
                    max_vocab: int | None = None) -> DataFrame:
    """(word, freq BIGINT) over whitespace tokens — the corpus collapse
    every BPE iteration runs on. ``max_vocab`` keeps the most frequent
    words (ties by word ASC) when the distinct-word table itself needs
    bounding."""
    wf = (docs.select(F.explode(tokens(F.col(text_col))).alias("word"))
          .filter(F.col("word") != "")
          .groupBy("word").agg(F.count("*").cast("long").alias("freq"))
          .filter(F.col("freq") >= min_freq))
    if max_vocab is not None:
        wf = (wf.orderBy(F.desc("freq"), F.asc("word")).limit(max_vocab))
    return wf


def _encode(word_col: str = "word") -> F.Column:
    """word -> ' c  h  a  r  s  </w> ' (single-space-wrapped symbols,
    double-space separated) — the representation whose pair merge is a
    plain string replace with identical semantics in both engines."""
    return F.expr(
        f"concat(' ', array_join(concat(transform(sequence(1, "
        f"char_length({word_col})), i -> substring({word_col}, i, 1)), "
        f"array('</w>')), '  '), ' ')")


def bpe_train(docs: DataFrame, n_merges: int = 8, text_col: str = "text",
              min_freq: int = 1, max_vocab: int | None = None) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges from the corpus.

    Returns the merge table (rank BIGINT starting at 1, left, right,
    merged, pair_count BIGINT) in learned order — the artifact a
    tokenizer consumes. Words carry the classic '</w>' end-of-word
    symbol. Stops early if the vocab runs out of adjacent pairs.
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    spark = docs.sparkSession
    # r12: eager localCheckpoint instead of pin() — the per-round collect
    # forces materialization anyway, and checkpointing TRUNCATES the
    # lineage each round's plan re-embeds (pin leaves it to Catalyst to
    # re-canonicalize; the unigram-EM finding, measured faster here in
    # alternating A/B on the fertility/segments gates)
    vocab = (word_freq_table(docs, text_col, min_freq, max_vocab)
             .select("word", "freq", _encode("word").alias("s"))
             .transform(ckpt))
    merges: list[tuple] = []

    def merge_best_pair(vocab: DataFrame) -> DataFrame | None:
        sym = F.split(F.trim(F.col("s")), "  ")
        pairs = (vocab
                 .select("freq", sym.alias("sym"))
                 .filter(F.size("sym") >= 2)
                 .select("freq", F.explode(F.expr(
                     "transform(sequence(1, size(sym) - 1), i -> "
                     "struct(element_at(sym, i) AS l, "
                     "element_at(sym, i + 1) AS r))")).alias("p"))
                 .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
                 .agg(F.sum("freq").cast("long").alias("cnt")))
        # 1-row collect: the argmax pair is metadata, not data (same
        # bounded-collect class as the IVF centroid fetches)
        best = (pairs.orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
                .limit(1).collect())
        if not best:
            return None
        l, r, cnt = best[0]["l"], best[0]["r"], int(best[0]["cnt"])
        merges.append((len(merges) + 1, l, r, l + r, cnt))
        if len(merges) == n_merges:
            return None  # table full: the next vocab is never read
        return vocab.select(
            "word", "freq",
            F.replace(F.col("s"), F.lit(f" {l}  {r} "),
                      F.lit(f" {l}{r} ")).alias("s"))

    fixpoint(vocab, merge_best_pair, n_merges)
    return spark.createDataFrame(merges, MERGE_SCHEMA)


def bpe_train_collected(docs: DataFrame, n_merges: int = 1000,
                        text_col: str = "text", min_freq: int = 1,
                        max_vocab: int | None = 100_000) -> DataFrame:
    """The PRODUCTION-shape trainer for large merge counts: one
    distributed tokenize+count scan (the only corpus-sized work), then
    the (word, freq) table — bounded by ``max_vocab`` — is collected
    ONCE and the merge loop runs in-process, removing the per-iteration
    job-launch constant that makes the distributed loop the wrong shape
    past ~tens of merges. Identical algorithm and tie-breaks —
    tests/test_bpe.py pins it equal to :func:`bpe_train` merge for
    merge."""
    spark = docs.sparkSession
    rows = word_freq_table(docs, text_col, min_freq, max_vocab).collect()
    vocab = {}  # symbol tuple -> freq (words with equal symbols merge)
    for r in rows:
        syms = tuple(list(r["word"]) + ["</w>"])
        vocab[syms] = vocab.get(syms, 0) + int(r["freq"])
    merges: list[tuple] = []
    for k in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for syms, freq in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + freq
        if not counts:
            break
        # argmax with the same total order as the distributed trainer:
        # count DESC, left ASC, right ASC
        (l, r), cnt = min(counts.items(),
                          key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((k, l, r, l + r, cnt))
        new_vocab: dict[tuple, int] = {}
        for syms, freq in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == l
                        and syms[i + 1] == r):
                    out.append(l + r)   # greedy left-to-right, skip pair
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            t = tuple(out)
            new_vocab[t] = new_vocab.get(t, 0) + freq
        vocab = new_vocab
    return spark.createDataFrame(merges, MERGE_SCHEMA)


def bpe_apply(docs: DataFrame, merges: list[tuple[str, str]],
              text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Apply a learned merge list to the corpus: (id_col, token STRING,
    pos BIGINT) — one row per subword token per word occurrence order.
    Map-only (the merge list is a plan literal, applied as chained
    replaces per word); the segmentation step a training-data pipeline
    runs after :func:`bpe_train`.

    ``merges`` is [(left, right), ...] in rank order (e.g. zip of the
    trained table's left/right columns).
    """
    word = (docs.select(F.col(id_col),
                        F.posexplode(tokens(F.col(text_col)))
                        .alias("word_pos", "word"))
            .filter(F.col("word") != ""))
    s = _encode("word")
    for l, r in merges:
        s = F.replace(s, F.lit(f" {l}  {r} "), F.lit(f" {l}{r} "))
    # pos = word_pos*1000 + sym_pos is a total order only while every
    # word segments into < 1000 subwords (a word needs ~>=999 chars to
    # break it); guard instead of silently colliding (ADVICE r7). The
    # assert rides the value path so Catalyst cannot prune it, map-only.
    guard = F.assert_true(
        F.col("sym_pos") < 1000,
        F.concat(F.lit("bpe_apply: word at word_pos="), F.col("word_pos"),
                 F.lit(" segments into >= 1000 subword tokens — the "
                       "pos = word_pos*1000 + sym_pos encoding would "
                       "collide; split pathological words upstream")))
    pos = (F.col("word_pos") * 1000 + F.col("sym_pos")).cast("long")
    return (word.select(id_col, "word_pos",
                        F.posexplode(F.split(F.trim(s), "  "))
                        .alias("sym_pos", "token"))
            .select(id_col, "token",
                    # .otherwise(NULL): distinct branches so Catalyst
                    # cannot collapse the when() and prune the assert
                    F.when(guard.isNull(), pos)
                    .otherwise(F.lit(None).cast("long")).alias("pos")))


def bpe_fertility(docs: DataFrame, merges: list, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Per-document tokenizer fertility statistics (r8) — the
    diagnostic a pipeline runs after training a subword vocabulary:
    fertility (subword tokens per word) is THE standard tokenizer
    quality number (≈1 on well-covered text, blows up on
    out-of-vocabulary/wrong-language/gibberish documents), so this is
    both a tokenizer-eval surface and another quality screen.

    Shape (r12, guide §2.3 — shuffle fewer bytes): fertility needs only
    per-word subword COUNTS, never the token strings, so the count is
    computed MAP-SIDE per word occurrence (``size`` of the merged
    symbol split — the same chained replaces bpe_apply runs, without
    exploding the token stream) and ONE per-doc aggregation finishes
    the job. This replaces the previous bpe_apply → per-(doc, word)
    groupBy → per-doc groupBy pipeline: the ~tokens-per-word row
    explosion and one full shuffle drop out; row-for-row equal output
    (per (doc, word_pos) the old count of exploded rows IS the symbol
    count). fertility_ppm = n_subwords·10^6 div n_words (exact
    integer). max_word_subwords flags the worst single word (the BPE
    failure mode is one pathological token, not a uniform drift).

    Returns (id, n_words BIGINT, n_subwords BIGINT, fertility_ppm
    BIGINT, max_word_subwords BIGINT). Documents with no words produce
    no rows (fertility undefined), matching bpe_apply's stream.
    """
    word = (docs.select(F.col(id_col),
                        F.posexplode(tokens(F.col(text_col)))
                        .alias("word_pos", "word"))
            .filter(F.col("word") != ""))
    s = _encode("word")
    for l, r in merges:
        s = F.replace(s, F.lit(f" {l}  {r} "), F.lit(f" {l}{r} "))
    nsub = F.size(F.split(F.trim(s), "  ")).cast("long")
    # same pathological-word guard as bpe_apply (sym_pos < 1000 ≡ the
    # word segments into <= 1000 subwords); rides the value path so
    # Catalyst cannot prune it
    guard = F.assert_true(
        nsub <= 1000,
        F.concat(F.lit("bpe_fertility: word at word_pos="),
                 F.col("word_pos"),
                 F.lit(" segments into >= 1000 subword tokens — the "
                       "pos = word_pos*1000 + sym_pos encoding would "
                       "collide; split pathological words upstream")))
    per_word = word.select(
        F.col(id_col),
        F.when(guard.isNull(), nsub)
        .otherwise(F.lit(None).cast("long")).alias("__c"))
    return (per_word.groupBy(id_col)
            .agg(F.count("*").cast("long").alias("n_words"),
                 F.sum("__c").cast("long").alias("n_subwords"),
                 F.max("__c").cast("long").alias("max_word_subwords"))
            .select(id_col, "n_words", "n_subwords",
                    F.expr("n_subwords * 1000000 div n_words")
                    .cast("long").alias("fertility_ppm"),
                    "max_word_subwords"))
