"""Deduplication for training-data pipelines, at 100 TB design scale.

Four tiers, all shuffle-minimal:

- exact:      hash-groupBy on the raw text (one shuffle on a short digest,
              not the document body).
- fingerprint: exact dedup over a normalized-text md5 (case/punct/ws
              insensitive).
- minhash_lsh: shingle → minhash signature → band buckets → candidate pairs
              join within buckets only (never all-pairs), verify with true
              Jaccard. Pure expressions: xxhash64 for shingle hashing,
              aggregate() for the per-permutation min.
- simhash:    64-bit simhash from token hashes; near-dup = small Hamming
              distance within same-prefix blocks.

Everything is built-in expressions — no Python UDFs — so the candidate
generation runs in whole-stage codegen and the only shuffles are the
bucket/groupBy joins on compact keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bqetl_spark.functions.text import fingerprint, tokens
from bqetl_spark.caching import ckpt, fixpoint, pin
from bqetl_spark.session import compute_parallelism


def dedup_exact(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id document per exact text. Group key is the text
    digest, not the body, so the shuffle moves ~40B/row at 100 TB."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("__h"))
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_copies"))
        .drop("__h")
    )


def dedup_fingerprint(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Near-exact dedup on normalized text (lower/strip-punct/collapse-ws)."""
    return (
        df.groupBy(fingerprint(F.col(text_col)).alias("fp"))
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_copies"))
    )


def shingles_of(toks, n: int = 3):
    """Word n-gram shingle set (array of xxhash64 values, deduped) from an
    ALREADY-TOKENIZED array column.

    PERF CONTRACT: pass a *bound attribute* (a projected column), never the
    raw ``tokens(text)`` expression. A non-attribute expression referenced
    inside a higher-order-function lambda is re-evaluated per array element
    — an embedded split() re-tokenizes the document once per gram, which
    measured 9× slower at sf1 (35 s → 3.9 s for the MinHash signature
    stage). Catalyst does not collapse the producing projection because the
    expression is referenced more than once."""
    toks = F.col(toks) if isinstance(toks, str) else toks
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    grams = F.transform(idx, lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i + 1, n))))
    return F.array_distinct(grams)


def shingles(text_col, n: int = 3):
    """Word n-gram shingle set as an array of xxhash64 values (deduped).

    Convenience form for ad-hoc use. Hot paths should project
    ``tokens(text)`` to a column first and call ``shingles_of`` on the
    attribute (see its perf contract)."""
    return shingles_of(tokens(text_col), n)


_MERSENNE31 = (1 << 31) - 1  # 2147483647


def _perm_params(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) per permutation, a,b < 2^31 — a*x never exceeds
    2^62, so the arithmetic is overflow-safe even under ANSI mode."""
    params = []
    for i in range(num_perm):
        a = (0x9E3779B1 * (i + 1)) % _MERSENNE31 or 1
        b = (0x85EBCA77 * (i + 7)) % _MERSENNE31
        params.append((a, b))
    return params


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n_shingle: int = 3,
                      num_perm: int = 64, bands: int = 16,
                      jaccard_threshold: float = 0.5,
                      max_bucket_size: int | None = None,
                      est_margin: float | None = None) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH, verified with true
    shingle Jaccard. Returns (id_a, id_b, jaccard) with id_a < id_b.

    Scale shape: the only join is on (band_idx, band_hash) buckets — at
    100 TB collision groups stay tiny, so the self-join is bucket-local and
    never quadratic in the corpus. AQE's skew-join splitting covers a hot
    bucket (e.g. boilerplate docs).

    MATCH THE BAND GEOMETRY TO THE THRESHOLD (r11, the measured sf3
    superlinearity fix — PLANS.md): rows-per-band r sets the S-curve
    p_collide(j) = 1−(1−j^r)^bands. At threshold 0.9, r=2 (32 bands)
    admits j≈0.33 noise pairs into ≥1 band with ~97% probability — on a
    corpus with near-miss cluster structure the candidate set grows
    quadratically in cluster size; r=4 (16 bands) keeps miss probability
    at j≥0.9 below 4e-8 while generating 6-11× fewer candidates with
    bit-identical output at every measured scale point. Rule of thumb:
    pick r so threshold^r stays ≥ ~0.5 and (noise j)^r is small.

    ``max_bucket_size`` is the boilerplate-cluster guard: a band bucket
    holding N docs emits N² candidates, and at corpus scale the giant
    buckets are boilerplate (license headers, templates) whose pairs add
    cost but no curation signal — production LSH systems cap them. A
    capped bucket is dropped whole (its members usually co-occur in other,
    smaller buckets). Exact (and oracle-comparable) when None.

    ``est_margin`` controls the signature-estimated-Jaccard pre-filter
    between candidate generation and the exact shingle verify: a candidate
    pair whose fraction of matching minhash positions is below
    ``jaccard_threshold - est_margin`` is dropped before re-shingling. This
    is the scale guard against band-collision noise — with short bands
    (rows = num_perm/bands small), pairs far below the threshold still
    collide in ≥1 band with high probability (e.g. j=0.33, 2-row bands,
    32 bands → 97% collide), and at corpus scale those failing candidates
    dominate verify cost. The estimate (already computed, zero extra
    shuffle passes over the corpus) separates them from true pairs.

    Margin statistics: matching positions ~ Binomial(num_perm, j)/num_perm,
    σ = sqrt(j(1-j)/num_perm). The default margin is 4σ + 2/num_perm at
    j = threshold — per-pair false-drop probability ≲ 1e-6, so the output
    still equals the exact-Jaccard oracle in any realistic corpus, while a
    sub-threshold pair needs its estimate ~(margin/σ)·σ above its true j to
    survive. A tighter margin like 2/num_perm alone (≈0.8σ at 64 perms)
    would false-drop ~20% of exactly-at-threshold pairs — do not use it.
    Pass ``est_margin >= jaccard_threshold`` to disable the pre-filter."""
    import math

    rows = num_perm // bands
    p = F.lit(_MERSENNE31)
    if est_margin is None:
        est_margin = (4.0 * math.sqrt(jaccard_threshold
                                      * (1.0 - jaccard_threshold) / num_perm)
                      + 2.0 / num_perm)
    min_matches = math.ceil((jaccard_threshold - est_margin) * num_perm)

    # Persistence policy for 100 TB: only COMPACT tables are ever persisted
    # — the banded signature table (bands rows of (id, band, bh) per doc)
    # and the candidate pairs. Raw shingle arrays are corpus-scale and are
    # never held; the verify stage re-shingles only candidate docs.

    # 1) per-doc shingle set (one full pass, not persisted). Repartition
    #    first: a small corpus arrives as one parquet split, and shingling
    #    is the CPU-heavy stage, so spread it across the cluster. Tokens are
    #    bound to a column before the shingle lambda (shingles_of perf
    #    contract — embedded split() re-tokenizes per gram).
    n_part = compute_parallelism(df.sparkSession)
    toked = (df.repartition(n_part, id_col)
             .select(F.col(id_col).alias("id"),
                     tokens(F.col(text_col)).alias("__tk")))

    # 2) explode to (id, shingle_hash31) and take the per-permutation min as
    #    64 plain aggregates: whole-stage codegen + map-side partial combine,
    #    instead of 64 interpreted array folds per row. This is the shape
    #    that survives a 100 TB corpus — the shuffle carries only partial
    #    minima (num_perm longs per doc per map task).
    #    PLAN SHAPE: explode the shingle EXPRESSION directly — naming it in
    #    a projection first makes InferFiltersFromGenerate synthesize a
    #    `size(sh) > 0` filter and push it below the repartition, where the
    #    substituted filter recomputes the whole shingle pipeline per row
    #    (measured 35 s vs 4 s for this stage at sf1). Shingles are never
    #    empty, so the inferred filter is pure waste.
    exploded = (toked
                .select("id", F.explode(shingles_of("__tk", n_shingle)).alias("h"))
                .withColumn("x", F.pmod(F.col("h"), p)))
    aggs = [F.min(F.pmod(F.col("x") * F.lit(a) + F.lit(b), p)).alias(f"mh_{i}")
            for i, (a, b) in enumerate(_perm_params(num_perm))]
    # keep the full signature as one compact array column (num_perm longs
    # per doc ≈ 0.5 KB) — the pre-filter reads it back by id. Eagerly
    # localCheckpoint-ed (r12, was pin): the band expansion and BOTH
    # estimate-join sides consume it, and with pin() the 64-agg shingle
    # pipeline re-embedded in every consumer subtree (Catalyst
    # canonicalization cost; measured faster as ckpt in alternating A/B
    # on minhash_lsh + dedup_keep_best).
    sigs = (exploded.groupBy("id").agg(*aggs)
            .select("id", F.array(*[F.col(f"mh_{i}")
                                    for i in range(num_perm)]).alias("sig"))
            .transform(ckpt))

    # 3) band buckets: one xxhash64 per signature slice; explode to
    #    (id, band, bucket) and self-join bucket-locally (never all-pairs).
    #    Persist the banded table (compact: bands longs per doc, spills to
    #    disk if it outgrows memory) so the self-join materializes the
    #    shingle->signature pipeline exactly once.
    band_arr = F.array(*[
        F.xxhash64(F.slice("sig", b * rows + 1, rows)) for b in range(bands)
    ])
    banded = (sigs.select("id", F.posexplode(band_arr).alias("band", "bh"))
              .transform(ckpt))
    if max_bucket_size is not None:
        counts = (banded.groupBy("band", "bh")
                  .agg(F.count("*").alias("__bn")))
        banded = (banded
                  .join(counts.filter(F.col("__bn") <= max_bucket_size),
                        ["band", "bh"])
                  .drop("__bn"))
    cand = (banded.alias("a")
            .join(banded.alias("b"),
                  (F.col("a.band") == F.col("b.band")) &
                  (F.col("a.bh") == F.col("b.bh")) &
                  (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"]))

    # 3b) signature-estimated-Jaccard pre-filter (see est_margin docstring):
    #     join the compact pinned signature table back by id and count
    #     matching positions — pure codegen over 2×num_perm longs per pair,
    #     no re-shingling, no pass over the corpus. Candidates from band-
    #     collision noise (true j far below threshold) die here instead of
    #     paying the shingle-verify join.
    if min_matches > 0:
        matched = F.size(F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m))
        cand = (cand
                .join(sigs.select(F.col("id").alias("id_a"),
                                  F.col("sig").alias("sig_a")), "id_a")
                .join(sigs.select(F.col("id").alias("id_b"),
                                  F.col("sig").alias("sig_b")), "id_b")
                .filter(matched >= F.lit(min_matches))
                .select("id_a", "id_b"))
    cand = cand.transform(ckpt)

    # 4) verify candidates with true shingle jaccard. Candidates are a
    #    vanishing fraction of the corpus, so semi-join the raw docs down
    #    to candidate ids FIRST and re-shingle only those — two cheap
    #    filtered passes instead of holding every doc's shingle array.
    cand_ids = (cand.select(F.col("id_a").alias("cid"))
                .union(cand.select(F.col("id_b").alias("cid")))
                .distinct())
    sh_cand = (df.join(cand_ids, F.col(id_col) == F.col("cid"), "leftsemi")
               .select(F.col(id_col).alias("id"),
                       tokens(F.col(text_col)).alias("__tk"))
               .select("id", shingles_of("__tk", n_shingle).alias("sh"))
               .transform(ckpt))
    # ^ candidate-sized; feeds both join sides below
    verified = (cand
                .join(sh_cand.select(F.col("id").alias("id_a"),
                                     F.col("sh").alias("sh_a")), "id_a")
                .join(sh_cand.select(F.col("id").alias("id_b"),
                                     F.col("sh").alias("sh_b")), "id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = inter / F.greatest(union, F.lit(1))
    # filter unrounded (matches the SQL oracle), round only for output
    return (verified
            .filter(jac >= jaccard_threshold)
            .select("id_a", "id_b", F.round(jac, 6).alias("jaccard")))


def _slim_jaccard_pairs(inv: DataFrame, sizes: DataFrame,
                        threshold: float) -> DataFrame:
    """Shared-element counting for inverted-index jaccard pairs, slimmed
    (r12, guide §2.3/§3.4). ``inv`` is (id, __n, __key); ``sizes`` is the
    doc-count-sized (id, __n). Two exact levers over the naive
    join-then-group shape:

    - SIZE FILTER at pair generation: jaccard >= t forces
      min(na,nb) >= t·max(na,nb) (c <= min and c >= t(na+nb)/(1+t)), so
      size-incompatible pairs are dropped BEFORE the big groupBy
      shuffle. The 1e-6 slack swamps float rounding of t·n (error
      < n·2^-52, i.e. < 1e-6 for any n < 4e9) so no true pair is ever
      dropped; borderline keeps are re-filtered exactly by the final
      unrounded-jaccard comparison, which is unchanged.
    - SLIM groupBy: only (id_a, id_b) ride the pair-stream shuffle and
      act as group keys; set sizes rejoin AFTER aggregation from
      ``sizes`` (pair-count-sized join against a doc-count-sized side —
      plain equi-joins, AQE broadcasts when small).

    Measured on winnow_neardup's 103M-row pair stream: 5.60 -> 3.77 s
    same-session, output byte-identical.
    """
    t = float(threshold)
    a = inv.select(F.col("id").alias("id_a"), F.col("__n").alias("na"),
                   "__key")
    b = inv.select(F.col("id").alias("id_b"), F.col("__n").alias("nb"),
                   "__key")
    cnt = (a.join(b, "__key")
           .filter((F.col("id_a") < F.col("id_b"))
                   & (F.col("na") >= F.lit(t) * F.col("nb") - F.lit(1e-6))
                   & (F.col("nb") >= F.lit(t) * F.col("na") - F.lit(1e-6)))
           .groupBy("id_a", "id_b").agg(F.count("*").alias("c")))
    out = (cnt.join(sizes.select(F.col("id").alias("id_a"),
                                 F.col("__n").alias("na")), "id_a")
           .join(sizes.select(F.col("id").alias("id_b"),
                              F.col("__n").alias("nb")), "id_b"))
    jac = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    # filter on the UNROUNDED value (the SQL oracle does the same); round
    # only for output
    return (out.filter(jac >= threshold)
            .select("id_a", "id_b", F.round(jac, 6).alias("jaccard")))


def word_ngrams_of(toks, n: int = 3):
    """Distinct word n-gram strings from an already-tokenized array column.
    Same perf contract as ``shingles_of``: pass a bound attribute."""
    toks = F.col(toks) if isinstance(toks, str) else toks
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))))


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.5,
                        max_gram_freq: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via an inverted gram index.

    Candidate generation: explode each doc's gram set and self-join on the
    gram — the per-pair match count IS |A∩B|, so jaccard follows from
    c / (|A| + |B| - c) with no array intersection and no quadratic block
    join. Pairs sharing zero grams (jaccard 0) never materialize.

    Scale levers: the only shuffles are the gram join and the pair groupBy,
    both on compact keys; ``max_gram_freq`` drops boilerplate grams that
    appear in more than N docs (the standard skew guard at corpus scale —
    a gram shared by every doc contributes O(N²) candidates and ~nothing to
    precision). Exact (and oracle-comparable) when left at None.
    """
    n_part = compute_parallelism(df.sparkSession)
    base = (df.repartition(n_part, id_col)
            .select(F.col(id_col).alias("id"),
                    tokens(F.col(text_col)).alias("__tk"))
            .select("id", word_ngrams_of("__tk", n).alias("gr"))
            .withColumn("n_gr", F.size("gr")))
    base = pin(base)
    inv = base.select("id", F.col("n_gr").alias("__n"),
                      F.explode("gr").alias("__key"))
    if max_gram_freq is not None:
        freq = inv.groupBy("__key").agg(F.count("*").alias("df_g"))
        inv = (inv.join(freq.filter(F.col("df_g") <= max_gram_freq),
                        "__key")
               .drop("df_g"))
    return _slim_jaccard_pairs(inv, base.select("id",
                                                F.col("n_gr").alias("__n")),
                               threshold)


def winnow_fingerprint_vec(k: int = 8, w: int = 4):
    """Arrow-vectorized winnowing fingerprint: true Rabin-Karp k-gram
    hashes (polynomial mod 2^64 via numpy uint64 wraparound) + sliding-
    window minima, per text. This is the documented pandas-UDF exception:
    the per-window minima are O(n·w) tiny array ops that fall out of
    codegen as interpreted allocations (~190 ms/doc), while numpy does the
    same work in microseconds per doc inside one Arrow batch.

    Returns a pandas_udf usable as ``df.select(udf(col))`` → array<long>.
    The closure is self-contained so external drivers need no package on
    the worker path.
    """
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.ArrayType(T.LongType()))
    def fp(s):
        import numpy as np
        import pandas as pd
        from numpy.lib.stride_tricks import sliding_window_view

        base = np.uint64(1000003)
        pows = np.power(base, np.arange(k - 1, -1, -1, dtype=np.uint64),
                        dtype=np.uint64)
        out = []
        for t in s:
            if t is None or len(t) == 0:
                out.append([0])
                continue
            c = np.frombuffer(t.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
            if len(c) < k:
                h = np.array([(c * pows[k - len(c):]).sum(dtype=np.uint64)],
                             dtype=np.uint64)
            else:
                h = (sliding_window_view(c, k) * pows).sum(axis=1,
                                                           dtype=np.uint64)
            if len(h) <= w:
                mins = np.array([h.min()], dtype=np.uint64)
            else:
                mins = sliding_window_view(h, w).min(axis=1)
            out.append(np.unique(mins).astype(np.int64).tolist())
        return pd.Series(out)

    return fp


def winnow_overlap_pairs(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", k: int = 8, w: int = 4,
                         threshold: float = 0.5,
                         max_hash_freq: int | None = None) -> DataFrame:
    """Near-dup pairs by winnowing-fingerprint jaccard, via the same
    inverted-index shape as ngram_jaccard_pairs (explode fingerprints, join
    on the hash, count shared). Character-level, so it catches near-dups
    that word tokenization misses (punctuation/casing edits inside words).
    Hash-seeded → rows-only in the driver contract.

    Encoding contract: k-grams are hashed over UTF-8 BYTES (numpy view);
    the SQL oracle walks CHARACTERS. Identical for single-byte text (the
    gate corpora are ascii); multi-byte text shifts gram boundaries
    between the two — deliberately excluded from the adversarial-text
    fuzz vocabulary for this reason (tests/test_oracle_fuzz.py).

    ``max_hash_freq`` is the boilerplate-skew guard (same contract as
    ngram_jaccard_pairs.max_gram_freq): a fingerprint hash appearing in
    more than N docs contributes O(N²) candidate pairs and ~no precision,
    so at corpus scale it is dropped from the index. Exact when None."""
    fp_udf = winnow_fingerprint_vec(k, w)
    n_part = compute_parallelism(df.sparkSession)
    # winnowing's guarantee (a shared substring of length >= k+w-1 yields
    # a shared fingerprint) is vacuous for docs shorter than k — and the
    # UDF's whole-string fallback hash made every pair of IDENTICAL short
    # docs a 1.0-overlap "near-dup" (fuzz-harness finding). Sub-k docs are
    # exact-dedup territory; winnowing skips them.
    base = (df.filter(F.length(F.col(text_col)) >= k)
            .repartition(n_part, id_col)
            .select(F.col(id_col).alias("id"),
                    fp_udf(F.col(text_col)).alias("fp"))
            .withColumn("n_fp", F.size("fp")))
    base = pin(base)  # both sides of the self-join read this — don't run the UDF twice
    inv = base.select("id", F.col("n_fp").alias("__n"),
                      F.explode("fp").alias("__key"))
    if max_hash_freq is not None:
        freq = inv.groupBy("__key").agg(F.count("*").alias("df_h"))
        inv = (inv.join(freq.filter(F.col("df_h") <= max_hash_freq),
                        "__key")
               .drop("df_h"))
    return _slim_jaccard_pairs(inv, base.select("id",
                                                F.col("n_fp").alias("__n")),
                               threshold)


def simhash64(text_col) -> "F.Column":
    """64-bit SimHash from token xxhash64 values: per bit, sum ±1 over all
    token hashes, bit set iff the sum is positive. Bit loop unrolled into 64
    expressions — heavy but pure codegen, no shuffle at all."""
    toks = F.array_distinct(tokens(text_col))
    hs = F.transform(toks, lambda t: F.xxhash64(t))

    def voter(bit: int):
        return lambda acc, h: acc + F.when(
            F.shiftright(h, bit).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)

    out = F.lit(0).cast("long")
    for bit in range(64):
        vote = F.aggregate(hs, F.lit(0), voter(bit))
        # bitwise OR of shifted bit — shifts wrap naturally (no ANSI overflow),
        # so bit 63 lands in the sign bit as intended.
        out = out.bitwiseOR(
            F.shiftleft(F.when(vote > 0, F.lit(1)).otherwise(F.lit(0)).cast("long"),
                        bit))
    return out


def simhash64_vec():
    """Arrow-vectorized SimHash: token hashes via numpy polynomial (mod
    2^64), per-bit ±1 votes as a matrix sum. Same documented pandas-UDF
    exception as winnowing — the 64 per-row expression folds of
    ``simhash64`` are CodegenFallback and ~100× slower. Self-contained
    closure (external drivers need no package on the worker path)."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.LongType())
    def sh(s):
        from collections import Counter

        import numpy as np
        import pandas as pd

        bit_idx = np.arange(64, dtype=np.uint64)
        mask = (1 << 64) - 1
        out = []
        for t in s:
            tf = Counter((t or "").strip().split())
            if not tf:
                out.append(0)
                continue
            hs = np.empty(len(tf), dtype=np.uint64)
            wts = np.empty(len(tf), dtype=np.int64)
            for i, (tok, w) in enumerate(tf.items()):
                h = 1469598103934665603  # FNV-1a offset, Python ints wrap via mask
                for b in tok.encode("utf-8"):
                    h = ((h ^ b) * 1099511628211) & mask
                hs[i] = h
                wts[i] = w
            bits = ((hs[:, None] >> bit_idx) & np.uint64(1)).astype(np.int64)
            # standard TF-weighted simhash: votes = Σ w·(bit ? +1 : -1) —
            # frequency profiles discriminate where bare token sets don't
            votes = (wts[:, None] * (bits * 2 - 1)).sum(axis=0)
            sh_val = ((votes > 0).astype(np.uint64) << bit_idx).sum(
                dtype=np.uint64)
            out.append(int(sh_val.astype(np.int64)))
        return pd.Series(out, dtype="int64")

    return sh


def simhash_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  max_hamming: int = 3, prefix_bits: int = 16) -> DataFrame:
    """Near-dup pairs by SimHash: block on the top ``prefix_bits`` bits
    (near-dups almost always share them), compare Hamming distance within a
    block. Returns (id_a, id_b, hamming)."""
    n_part = compute_parallelism(df.sparkSession)
    # content-free docs carry no signal: an all-whitespace text hashes to
    # the SAME degenerate simhash (0), so without this filter every empty
    # doc pairs with every other at hamming 0 — found by the oracle fuzz
    # harness; exact dedup is the right tool for empties
    base = (df.filter(F.trim(F.col(text_col)) != "")
            .repartition(n_part, id_col)  # spread the CPU-heavy bit votes
            .select(F.col(id_col).alias("id"),
                    simhash64_vec()(F.col(text_col)).alias("sh")))
    # persist the compact (id, sh, blk) table: a self-join recomputes its
    # common subplan per side, which would run the pandas-UDF hash twice
    base = pin(base.withColumn("blk", F.shiftrightunsigned("sh", 64 - prefix_bits)))
    a, b = base.alias("a"), base.alias("b")
    xor = F.col("a.sh").bitwiseXOR(F.col("b.sh"))
    hamming = F.bit_count(xor)
    return (a.join(b, (F.col("a.blk") == F.col("b.blk")) &
                      (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                    hamming.alias("hamming"))
            .filter(F.col("hamming") <= max_hamming))


# Edge-count bound for the driver union-find fast path of
# connected_components: below it the (already materialized) edge list is
# collected (2 ids/row — ~16 MB at the default bound, the same order as a
# broadcast side) and solved exactly on the driver; above it the
# distributed propagation loop runs. Size-ADAPTIVE algorithm choice, the
# broadcast-join-threshold pattern: near-dup edge sets are sparse (pairs,
# not corpora), so most corpora resolve in one collect instead of
# 2+2·rounds Spark jobs, while a genuinely huge pair graph still takes
# the scalable path. Env-overridable for cluster tuning.
DRIVER_CC_EDGES_MAX = int(__import__("os").environ.get(
    "BQETL_DRIVER_CC_EDGES_MAX", 1_000_000))


def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst",
                         max_iter: int = 30,
                         driver_edges_max: int = DRIVER_CC_EDGES_MAX
                         ) -> DataFrame:
    """Undirected connected components by min-label propagation — the
    pair→cluster step a dedup pipeline needs before it can pick one
    representative per duplicate group.

    Returns (node, comp) for every node incident to an edge, where ``comp``
    is the smallest node id in the component (so ``node == comp`` marks the
    canonical representative).

    Scale posture: each round is a neighbor-min propagation (join +
    min-groupBy on compact (node, label) pairs) followed by one pointer-
    jumping step (``comp <- comp(comp)``), which shortcuts label paths and
    drops the round count from O(diameter) to O(log diameter) — a
    1000-node chain converges in ~12 rounds, not 1000 (same doubling idea
    as the star-contraction algorithms of Kiveris et al., "Connected
    Components in MapReduce"). Near-dup clusters (cliques-with-chips)
    still finish in 2-4. In the distributed loop the driver collects only
    a one-row converged? count per round — never the labels. Exhausting
    ``max_iter`` without convergence raises rather than returning
    silently-wrong labels.

    ``driver_edges_max`` (r12): edge lists at or under this bound are
    solved by exact union-find on the driver — identical output, one
    bounded collect instead of 2 + 2·rounds Spark jobs. Driver-heap
    sizing (r13, advisor): the raw DATA at the default 1M edges is
    ~16 MB, but the collect materializes ~1M Python Row objects plus
    the sorted label list re-serialized through createDataFrame —
    budget a few hundred MB of transient driver heap at the default
    bound, and lower ``BQETL_DRIVER_CC_EDGES_MAX`` on thin drivers
    (the engine default assumes the session's 48g driver). The
    size-adaptive algorithm choice every broadcast join already makes;
    the distributed loop remains the path for genuinely large pair
    graphs.

    Lineage is CUT each round with an eager checkpoint: caching alone is
    not enough for iterative algorithms, because Catalyst re-analyzes the
    full logical plan per action, so an upstream candidate-generation plan
    (e.g. a 64-aggregate MinHash pipeline) would be re-optimized every
    round and the label plan would deepen unboundedly. On a cluster, point
    ``spark.sparkContext.setCheckpointDir`` at reliable storage and swap
    ``localCheckpoint`` for ``checkpoint``.
    """
    # Null endpoints are dropped up front (r13, advisor): every caller
    # derives edges from non-null candidate-pair ids, but a null would
    # previously CRASH the union-find fast path (min/max on None) while
    # the distributed loop silently propagated through it — the two
    # paths must agree on any input, so both now see a null-free graph.
    und = (edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
           .union(edges.select(F.col(dst).alias("s"), F.col(src).alias("d")))
           .filter(F.col("s").isNotNull() & F.col("d").isNotNull())
           .distinct()
           .transform(ckpt))
    # Size-adaptive fast path (r12, guide §1.2 "the distributed
    # algorithm"): the undirected edge list is already materialized by
    # the checkpoint, so the count is one cheap leaf scan. Under the
    # bound, exact union-find on the driver produces the IDENTICAL
    # min-label-per-component output (comp = min member id by
    # definition) in one collect instead of 2 + 2·rounds jobs; ids
    # compare identically in Python and SQL (BIGINT, or ASCII strings —
    # binary collation ≡ code-point order). Pinned equivalent to the
    # distributed loop by tests/test_dedup.py.
    if und.count() <= driver_edges_max:
        from pyspark.sql import types as T

        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for s, d in und.collect():
            if s not in parent:
                parent[s] = s
            if d not in parent:
                parent[d] = d
            rs, rd = find(s), find(d)
            if rs != rd:
                parent[max(rs, rd)] = min(rs, rd)  # union by min id
        out = sorted((node, find(node)) for node in parent)
        ntype = und.schema["s"].dataType
        schema = T.StructType([T.StructField("node", ntype),
                               T.StructField("comp", ntype)])
        return edges.sparkSession.createDataFrame(out, schema)
    labels = (und.select(F.col("s").alias("node")).distinct()
              .withColumn("comp", F.col("node"))
              .transform(ckpt))

    def propagate(labels: DataFrame) -> DataFrame:
        msgs = (und.join(labels, und["s"] == labels["node"])
                .select(F.col("d").alias("node"), F.col("comp")))
        prop = (labels.union(msgs)
                .groupBy("node").agg(F.min("comp").alias("comp")))
        # pointer jumping: follow the label one more hop (comp is itself a
        # node, so its label exists); min is monotone, so this only tightens
        jump = prop.select(F.col("node").alias("__n2"), F.col("comp").alias("__c2"))
        return (prop.join(jump, prop["comp"] == jump["__n2"], "left")
                .select("node",
                        F.least("comp", F.coalesce("__c2", "comp"))
                        .alias("comp")))

    changed = [True]

    def settled(new: DataFrame, old: DataFrame) -> bool:
        changed[0] = bool(new.alias("n")
                          .join(old.alias("o"), "node")
                          .filter(F.col("n.comp") != F.col("o.comp"))
                          .limit(1).count())
        return not changed[0]

    labels = fixpoint(labels, propagate, max_iter, settled)
    if changed[0]:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds — "
            "raise max_iter (rounds needed ~ log2(component diameter))")
    return labels


def dedup_clusters(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", num_perm: int = 64,
                   bands: int = 32, jaccard_threshold: float = 0.9,
                   max_bucket_size: int | None = None) -> DataFrame:
    """End-to-end near-dup clustering: MinHash-LSH pairs → connected
    components → (doc_id, cluster_id, cluster_size, is_representative).
    Keep-policy downstream: filter ``is_representative`` to retain exactly
    one document per duplicate cluster. Only clustered docs are returned
    (singletons are trivially their own representative).
    ``max_bucket_size`` passes through to the LSH candidate stage (the
    boilerplate-cluster guard for corpus-scale runs)."""
    pairs = minhash_lsh_pairs(df, text_col=text_col, id_col=id_col,
                              num_perm=num_perm, bands=bands,
                              jaccard_threshold=jaccard_threshold,
                              max_bucket_size=max_bucket_size)
    comp = connected_components(pairs, src="id_a", dst="id_b")
    sizes = comp.groupBy("comp").agg(F.count("*").alias("cluster_size"))
    return (comp.join(sizes, "comp")
            .select(F.col("node").alias(id_col),
                    F.col("comp").alias("cluster_id"),
                    "cluster_size",
                    (F.col("node") == F.col("comp")).alias("is_representative")))


def keep_best(clusters: DataFrame, scores: DataFrame, id_col: str = "doc_id",
              cluster_col: str = "cluster_id",
              score_col: str = "quality_score") -> DataFrame:
    """Curation-grade dedup: keep the best-scoring member of each near-dup
    cluster (ties broken by ascending id), instead of the arbitrary min-id
    representative. One shuffle on the cluster key for the window; the
    score join is key-partitioned. Returns one row per cluster:
    (id_col, cluster_col, score_col)."""
    from pyspark.sql import Window

    j = clusters.select(id_col, cluster_col).join(
        scores.select(id_col, score_col), id_col)
    w = (Window.partitionBy(cluster_col)
         .orderBy(F.desc(score_col), F.asc(id_col)))
    return (j.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") == 1)
            .select(id_col, cluster_col, score_col))


def dedup_against(new_df: DataFrame, seen_df: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Incremental exact dedup: drop new docs whose normalized fingerprint
    already exists in the seen corpus, then dedup within the batch itself
    (keep min id). The ingest-path twin of dedup_fingerprint: the join key
    is the 32-byte digest, never the body, so checking a batch against a
    100 TB corpus shuffles only digests."""
    seen_fp = seen_df.select(fingerprint(F.col(text_col)).alias("fp")).distinct()
    fresh = (new_df
             .withColumn("fp", fingerprint(F.col(text_col)))
             .join(seen_fp, "fp", "left_anti"))
    w_min = fresh.groupBy("fp").agg(F.min(id_col).alias(id_col))
    return (fresh.join(w_min, [ "fp", id_col ], "leftsemi")
            .drop("fp"))


def minhash_pairs_between(new_df: DataFrame, seen_df: DataFrame,
                          text_col: str = "text", id_col: str = "doc_id",
                          n_shingle: int = 3, num_perm: int = 64,
                          bands: int = 16,
                          jaccard_threshold: float = 0.5) -> DataFrame:
    """Cross-corpus MinHash-LSH: near-dup pairs BETWEEN a new batch and an
    existing corpus (never within either side) — the incremental-ingest
    question "which new docs duplicate something we already have?".
    Returns (new_id, seen_id, jaccard).

    Same banded candidate shape as minhash_lsh_pairs, but the bucket join
    is new×seen instead of a self-join, so candidate work scales with the
    batch (small) times bucket collision rate — not with the corpus
    squared. At 100 TB the seen side's banded table is the precomputed
    index a production pipeline would persist."""
    def banded_sigs(df: DataFrame) -> DataFrame:
        rows = num_perm // bands
        p = F.lit(_MERSENNE31)
        n_part = compute_parallelism(df.sparkSession)
        # explode the expression directly — see minhash_lsh_pairs step 2 on
        # InferFiltersFromGenerate re-inlining named generator inputs
        toked = (df.repartition(n_part, id_col)
                 .select(F.col(id_col).alias("id"),
                         tokens(F.col(text_col)).alias("__tk")))
        exploded = (toked
                    .select("id", F.explode(shingles_of("__tk", n_shingle)).alias("h"))
                    .withColumn("x", F.pmod(F.col("h"), p)))
        aggs = [F.min(F.pmod(F.col("x") * F.lit(a) + F.lit(b), p))
                .alias(f"mh_{i}")
                for i, (a, b) in enumerate(_perm_params(num_perm))]
        sigs = exploded.groupBy("id").agg(*aggs)
        band_arr = F.array(*[
            F.xxhash64(F.array(*[F.col(f"mh_{b * rows + r}")
                                 for r in range(rows)]))
            for b in range(bands)])
        return sigs.select("id", F.posexplode(band_arr).alias("band", "bh"))

    nb = pin(banded_sigs(new_df))
    sb = pin(banded_sigs(seen_df))
    cand = (nb.alias("a").join(sb.alias("b"),
                               (F.col("a.band") == F.col("b.band")) &
                               (F.col("a.bh") == F.col("b.bh")))
            .select(F.col("a.id").alias("new_id"),
                    F.col("b.id").alias("seen_id"))
            .dropDuplicates(["new_id", "seen_id"]))
    cand = pin(cand)
    sh_new = (new_df.join(cand.select(F.col("new_id").alias("cid")).distinct(),
                          F.col(id_col) == F.col("cid"), "leftsemi")
              .select(F.col(id_col).alias("new_id"),
                      tokens(F.col(text_col)).alias("__tk"))
              .select("new_id", shingles_of("__tk", n_shingle).alias("sh_a")))
    sh_seen = (seen_df.join(cand.select(F.col("seen_id").alias("cid")).distinct(),
                            F.col(id_col) == F.col("cid"), "leftsemi")
               .select(F.col(id_col).alias("seen_id"),
                       tokens(F.col(text_col)).alias("__tk"))
               .select("seen_id", shingles_of("__tk", n_shingle).alias("sh_b")))
    verified = cand.join(sh_new, "new_id").join(sh_seen, "seen_id")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = inter / F.greatest(union, F.lit(1))
    return (verified.filter(jac >= jaccard_threshold)
            .select("new_id", "seen_id", F.round(jac, 6).alias("jaccard")))


def contamination_flags(corpus: DataFrame, benchmark: DataFrame, n: int = 8,
                        text_col: str = "text", id_col: str = "doc_id",
                        max_gram_freq: int | None = None) -> DataFrame:
    """Benchmark decontamination: flag every corpus document sharing at
    least one word n-gram with a benchmark document — the standard
    train/test-overlap check a pretraining pipeline runs before shipping
    a corpus (long-n-gram collision, e.g. n=8..13).

    Returns (id_col, n_shared_grams, n_benchmark_docs): how many distinct
    grams of the doc appear anywhere in the benchmark, and how many
    distinct benchmark docs it collides with. Exact — the join is an
    inverted index on gram digests (md5: 16-byte keys over the wire
    instead of raw gram strings; both engines compute the same digest so
    the oracle is unchanged). ``max_gram_freq`` is the usual boilerplate
    guard: a gram appearing in more than N benchmark docs carries no
    contamination signal and multiplies join output.

    Scale shape: benchmark gram sets are typically millions of rows
    (benchmarks are small) while the corpus side streams through the join
    — broadcast the benchmark index when it fits; Spark's size estimate
    handles that via autoBroadcastJoinThreshold.
    """
    n_part = compute_parallelism(corpus.sparkSession)
    cg = (corpus.repartition(n_part, id_col)
          .select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("__tk"))
          .select("id", F.explode(word_ngrams_of("__tk", n)).alias("g"))
          .select("id", F.md5("g").alias("h")))
    bg = (benchmark
          .select(F.col(id_col).alias("bench_id"),
                  tokens(F.col(text_col)).alias("__tk"))
          .select("bench_id", F.explode(word_ngrams_of("__tk", n)).alias("g"))
          .select("bench_id", F.md5("g").alias("h")))
    if max_gram_freq is not None:
        freq = bg.groupBy("h").agg(F.count_distinct("bench_id").alias("df_h"))
        bg = bg.join(freq.filter(F.col("df_h") <= max_gram_freq), "h").drop("df_h")
    return (cg.join(bg, "h")
            .groupBy("id")
            .agg(F.count_distinct("h").alias("n_shared_grams"),
                 F.count_distinct("bench_id").alias("n_benchmark_docs"))
            .select(F.col("id").alias(id_col), "n_shared_grams",
                    "n_benchmark_docs"))


def substring_dup_pairs(df: DataFrame, window: int = 64, stride: int = 8,
                        text_col: str = "text", id_col: str = "doc_id",
                        max_window_freq: int | None = 50) -> DataFrame:
    """EXACT substring-duplication mining (r7): all document pairs
    sharing an identical ``window``-character substring — the
    character-level exact-overlap signal ("Deduplicating Training Data
    Makes Language Models Better" finds verbatim ≥50-token spans are the
    dominant duplication mode in web corpora; this is that detector with
    characters for tokens).

    Sampling is CONTENT-DEFINED, not positional: a window is indexed iff
    its digest ≡ 0 (mod ``stride``) — the selection decision depends
    only on the window's BYTES, so the same span is sampled identically
    in every document containing it, at any alignment (a positional
    stride would only match docs whose span offsets agree mod stride —
    the classic misalignment failure winnowing also exists to avoid).
    stride=1 indexes every window (fully exact); stride=s keeps an
    expected 1/s of them, and a shared span of L chars is missed with
    probability (1−1/s)^(L−window+1) — ~2e-4 already at L = 2·window,
    s=8. Matches themselves stay EXACT: the join predicate is literal
    equality of the windows via md5 digests both engines compute
    identically, so the oracle replays everything verbatim.

    Scale shape: digest computation is the O(n·window) exact-detector
    cost paid ONCE per corpus, map-only; the index that shuffles is the
    selected ~|chars|/stride rows of (digest, id); pairs come from the
    digest equi-join, never all-pairs; ``max_window_freq`` drops digests
    appearing in more documents than that (boilerplate — headers,
    license blocks — the same guard every gram op here carries). The
    cheap probabilistic sibling is winnow_overlap_pairs (rolling-hash
    minima); this op is the exact end of that dial.

    Returns (doc_a, doc_b, n_shared BIGINT) with doc_a < doc_b, where
    n_shared counts DISTINCT shared selected digests.
    """
    if window < 1 or stride < 1:
        raise ValueError(f"window/stride must be >= 1, got {window}/{stride}")
    n_part = compute_parallelism(df.sparkSession)
    digest = F.md5(F.expr(f"substring(__t, p, {window})"))
    hv = F.conv(F.substring(digest, 1, 15), 16, 10).cast("long")
    wins = (df.repartition(n_part, id_col)
            .filter(F.length(text_col) >= window)
            .select(F.col(id_col).alias("id"),
                    F.explode(F.sequence(
                        F.lit(1),
                        F.length(text_col) - window + 1)).alias("p"),
                    F.col(text_col).alias("__t"))
            .select("id", digest.alias("h"), hv.alias("__hv"))
            .filter(F.pmod(F.col("__hv"), F.lit(stride)) == 0)
            .select("id", "h")
            .distinct())
    if max_window_freq is not None:
        freq = wins.groupBy("h").agg(F.count("*").alias("df_h"))
        wins = (wins.join(freq.filter(F.col("df_h") <= max_window_freq),
                          "h").drop("df_h"))
    a = wins.select(F.col("id").alias("doc_a"), "h")
    b = wins.select(F.col("id").alias("doc_b"), "h")
    return (a.join(b, "h")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("n_shared"))
            .select("doc_a", "doc_b",
                    F.col("n_shared").cast("long").alias("n_shared")))


def ngram_jaccard_prefix_pairs(df: DataFrame, text_col: str = "text",
                               id_col: str = "doc_id", n: int = 3,
                               threshold: float = 0.5) -> DataFrame:
    """EXACT n-gram Jaccard pairs with PPJoin-style prefix filtering
    (r7) — the candidate-reduction upgrade to
    :func:`ngram_jaccard_pairs`: identical output (pinned by tests), far
    fewer candidates at scale, with NO frequency-guard truncation
    needed.

    Prefix principle (public, Xiao et al. PPJoin): order every gram by a
    global total order (ascending document frequency, ties by gram — the
    rarest-first order that maximizes pruning); for Jaccard >= t two
    gram sets MUST share an element within their first
    |S| - ceil(t·|S|) + 1 grams, so only THAT prefix needs indexing. The
    candidate join therefore touches ~(1-t) of the inverted index, and —
    unlike ``max_gram_freq`` — drops nothing: a boilerplate gram shared
    by every doc lands at the END of the frequency order, OUTSIDE most
    prefixes, pruned by math instead of by a cap.

    Verification is exact: candidates re-join the pinned gram arrays and
    count |A∩B| with array_intersect (per-candidate O(|A|+|B|)).

    MEASURED VERDICT (PLANS.md r7): on THIS corpus the inverted-index
    count formulation wins — prefix 6.2 s vs 1.5 s at sf0.1, 244 s vs
    14.6 s at sf1 — because documents carry hundreds of grams, so the
    per-candidate array-verify and the full-index rank window dominate.
    PPJoin's regime is SMALL sets (record linkage: titles, attribute
    strings, tens of tokens) over huge corpora, where the prefix index
    cuts candidates by ~(1-t) and arrays are cheap to intersect. The op
    stays for that regime and as the no-truncation alternative where
    ``max_gram_freq``'s capping is unacceptable; outputs are pinned
    identical to ngram_jaccard_pairs (tests + the shared oracle).

    Same output columns as ngram_jaccard_pairs: (id_a, id_b, jaccard)."""
    n_part = compute_parallelism(df.sparkSession)
    from pyspark.sql import Window

    base = (df.repartition(n_part, id_col)
            .select(F.col(id_col).alias("id"),
                    tokens(F.col(text_col)).alias("__tk"))
            .select("id", word_ngrams_of("__tk", n).alias("gr"))
            .withColumn("n_gr", F.size("gr")))
    base = pin(base)
    inv = base.select("id", "n_gr", F.explode("gr").alias("g"))
    df_g = inv.groupBy("g").agg(F.count("*").alias("df_g"))
    ranked = inv.join(df_g, "g")
    w = Window.partitionBy("id").orderBy(F.asc("df_g"), F.asc("g"))
    prefix_len = (F.col("n_gr")
                  - F.ceil(F.lit(float(threshold)) * F.col("n_gr")) + 1)
    pref = (ranked.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= prefix_len)
            .select("id", "g"))
    cand = (pref.select(F.col("id").alias("id_a"), "g")
            .join(pref.select(F.col("id").alias("id_b"), "g"), "g")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())
    av = base.select(F.col("id").alias("id_a"), F.col("gr").alias("gr_a"),
                     F.col("n_gr").alias("na"))
    bv = base.select(F.col("id").alias("id_b"), F.col("gr").alias("gr_b"),
                     F.col("n_gr").alias("nb"))
    verified = (cand.join(av, "id_a").join(bv, "id_b")
                .withColumn("c", F.size(F.array_intersect("gr_a", "gr_b"))))
    jac = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    return (verified.filter(jac >= threshold)
            .select("id_a", "id_b", F.round(jac, 6).alias("jaccard")))


def strip_boilerplate_segments(df: DataFrame, text_col: str = "text",
                               id_col: str = "doc_id", seg_len: int = 3,
                               min_docs: int = 5) -> DataFrame:
    """CCNet-style cross-corpus boilerplate removal (r7): drop the text
    units that recur VERBATIM across many documents (headers, footers,
    nav chrome, license blurbs) and rebuild each document from what
    remains — the paragraph-dedup stage every web-corpus pipeline runs
    before model-level filtering (CCNet, RefinedWeb).

    The unit here is a fixed-width token window (``seg_len`` tokens,
    non-overlapping), the natural analogue of CCNet's newline-split
    paragraphs for a corpus whose documents carry no newlines. A unit is
    boilerplate when it appears in >= ``min_docs`` DISTINCT documents.
    Positional windows mean an OFFSET copy of a repeated span can be
    missed — that alignment-independent case is substring_dup_pairs'
    job; boilerplate in real corpora is position-stable per document,
    which is exactly what this catches.

    Scale shape: segment construction is MAP-ONLY (a transform over the
    token array — no explode until the segment relation, which is
    ~|tokens|/seg_len rows); then one groupBy(seg) for document
    frequency (shuffles seg_len-token strings, not documents), one join
    back on seg, and one per-doc rebuild aggregation. No all-pairs
    anything; memory per group is one document's segments.

    Returns (id, n_segs, kept_segs, dropped_segs, clean_hash) where
    clean_hash = md5 of the rebuilt (boilerplate-free) text — rebuilt in
    original segment order; a fully-stripped document yields md5('').
    """
    if seg_len < 1:
        raise ValueError(f"seg_len must be >= 1, got {seg_len}")
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    toks = tokens(F.col(text_col))
    n_segs = F.floor((F.size(toks) + seg_len - 1) / F.lit(seg_len)) \
        .cast("int")
    seg_arr = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda i: F.array_join(
            F.slice(toks, i * seg_len + 1, seg_len), " "))
    # repartition first: a single-file corpus otherwise runs the whole
    # tokenize+window build on ONE task; pin so the segment relation is
    # computed once, not once per side of the frequency join (measured
    # 3.9 s -> ~1 s at sf0.1)
    n_part = compute_parallelism(df.sparkSession)
    segs = (df.filter(F.trim(F.col(text_col)) != "")
            .repartition(n_part, id_col)
            .select(F.col(id_col), seg_arr.alias("__segs"))
            .select(id_col, F.posexplode("__segs").alias("seg_id", "seg")))
    segs = pin(segs)
    freq = segs.groupBy("seg").agg(
        F.countDistinct(id_col).alias("nd"))
    keep = F.col("nd") < min_docs
    rebuilt = F.md5(F.array_join(
        F.transform(
            F.filter(
                F.sort_array(F.collect_list(F.struct("seg_id", "nd",
                                                     "seg"))),
                lambda x: x["nd"] < min_docs),
            lambda x: x["seg"]),
        " "))
    return (segs.join(freq, "seg")
            .groupBy(id_col)
            .agg(F.count("*").cast("long").alias("n_segs"),
                 F.sum(keep.cast("int")).cast("long").alias("kept_segs"),
                 F.sum((~keep).cast("int")).cast("long")
                 .alias("dropped_segs"),
                 rebuilt.alias("clean_hash")))


def edit_distance_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", prefix_len: int = 48,
                        block_chars: int = 12, max_dist: int = 24,
                        max_block_size: int = 64) -> DataFrame:
    """Fuzzy near-dup pairs by bounded Levenshtein distance over a
    shared-prefix blocking scheme (r7) — the record-linkage tier of the
    dedup family: where MinHash/SimHash measure set overlap, edit
    distance catches single-character drift (OCR noise, typo'd titles,
    near-identical headers).

    Blocking: candidate pairs must share their first ``block_chars``
    characters (near-identical strings almost always do); blocks larger
    than ``max_block_size`` are dropped entirely — the boilerplate guard
    shared with the gram ops, deterministic and replayed by the oracle.
    Comparison: Spark's built-in ``levenshtein(l, r, threshold)`` on the
    first ``prefix_len`` characters — JVM-side, whole-stage codegen, and
    the threshold arg caps the DP band at O(max_dist · prefix_len)
    instead of O(prefix_len²).

    ASCII boundary (documented, advisor r6 class): Levenshtein counts
    CHARACTERS in both engines, but to keep the gate data-independent
    the op only compares prefixes that are entirely printable ASCII —
    non-ASCII rows pass to the MinHash tier instead.

    At 100 TB: one shuffle on the ``block_chars``-byte block key; the
    quadratic work is bounded per-block by ``max_block_size``; document
    bodies never move — only the ``prefix_len``-char slice.

    Returns (id_a, id_b, dist), dist <= max_dist."""
    ascii_ok = "^[\\x20-\\x7e]*$"
    # r13 (guide §1.2 step 2, measured at sf1): Spark's levenshtein is
    # ~45 µs/call on these prefixes — ONE evaluation over 423k pairs
    # cost 19.7 s while the whole block join without it ran 0.74 s, so
    # the per-pair expression is the entire budget. Two exact
    # reductions:
    # 1. pairs share their block by construction, and
    #    lev(x·s, x·t) = lev(s, t) (the DP aligns a common prefix at
    #    cost 0), so the ``block_chars`` shared head is stripped before
    #    the DP — a 48²-cell band becomes 36²;
    # 2. the threshold form returns -1 above ``max_dist``, so
    #    ``dist >= 0`` alone is the full filter — the old
    #    ``AND dist <= max_dist`` duplicated the levenshtein into the
    #    join condition a second time.
    # Same-session alternating A/B at sf1: 28.6 → 10.4 s median,
    # identical 267 912 output rows; exceptAll empty both ways.
    base = (df.filter(F.col(text_col).isNotNull())
            .select(F.col(id_col).alias("id"),
                    F.substring(F.col(text_col), 1, prefix_len).alias("p"))
            .filter(F.col("p").rlike(ascii_ok))
            .select("id", F.substring("p", 1, block_chars).alias("blk"),
                    F.expr(f"substring(p, {int(block_chars) + 1})")
                    .alias("rest")))
    ok_blocks = (base.groupBy("blk").agg(F.count("*").alias("__n"))
                 .filter((F.col("__n") >= 2) &
                         (F.col("__n") <= max_block_size))
                 .select("blk"))
    base = pin(base.join(F.broadcast(ok_blocks), "blk"))
    a, b = base.alias("a"), base.alias("b")
    dist = F.expr(f"levenshtein(a.rest, b.rest, {int(max_dist)})")
    return (a.join(b, (F.col("a.blk") == F.col("b.blk")) &
                      (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                    dist.alias("dist"))
            .filter(F.col("dist") >= 0))


def ngram_containment_pairs(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", n: int = 3,
                            threshold: float = 0.8,
                            min_grams: int = 1,
                            max_gram_freq: int | None = None) -> DataFrame:
    """Exact ASYMMETRIC containment near-dup pairs (r8): for each
    ordered pair, C(src→dst) = |grams(src) ∩ grams(dst)| / |grams(src)|
    — the signal Jaccard structurally misses: a short document pasted
    inside a long one has tiny Jaccard (union is dominated by the long
    side) but containment ≈ 1 from the short side. This is the
    Broder-containment complement to :func:`ngram_jaccard_pairs`, and
    the quote/excerpt/wrapper-page detector a training-data dedup
    stack runs beside the symmetric passes (same motivation as
    substring_dup_pairs, at gram rather than byte granularity).

    Same inverted-index machinery and scale levers as
    ngram_jaccard_pairs: the gram self-join count IS the intersection,
    no arrays are re-intersected, pairs sharing nothing never
    materialize, ``max_gram_freq`` guards boilerplate blowup.
    ``min_grams`` drops trivially-tiny sources (a 1-gram doc is
    "contained" everywhere its one gram appears — noise, the standard
    floor). Emits BOTH directions of a pair when both clear the
    threshold (src_id == the contained side).

    Returns (src_id, dst_id, n_src_grams BIGINT, containment DOUBLE
    rounded to 6; filtered on the unrounded value like the oracle).
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0,1], got {threshold}")
    if min_grams < 1:
        raise ValueError(f"min_grams must be >= 1, got {min_grams}")
    n_part = compute_parallelism(df.sparkSession)
    base = (df.repartition(n_part, id_col)
            .select(F.col(id_col).alias("id"),
                    tokens(F.col(text_col)).alias("__tk"))
            .select("id", word_ngrams_of("__tk", n).alias("gr"))
            .withColumn("n_gr", F.size("gr"))
            .filter(F.col("n_gr") >= min_grams))
    base = pin(base)
    inv = base.select("id", "n_gr", F.explode("gr").alias("g"))
    if max_gram_freq is not None:
        freq = inv.groupBy("g").agg(F.count("*").alias("df_g"))
        inv = (inv.join(freq.filter(F.col("df_g") <= max_gram_freq), "g")
               .drop("df_g"))
    a = inv.select(F.col("id").alias("src_id"),
                   F.col("n_gr").alias("n_src_grams"), "g")
    b = inv.select(F.col("id").alias("dst_id"), "g")
    shared = (a.join(b, "g")
              .filter(F.col("src_id") != F.col("dst_id"))
              .groupBy("src_id", "dst_id", "n_src_grams")
              .agg(F.count("*").alias("c")))
    cont = F.col("c") / F.col("n_src_grams")
    return (shared
            .filter(cont >= threshold)
            .select("src_id", "dst_id",
                    F.col("n_src_grams").cast("long").alias("n_src_grams"),
                    F.round(cont, 6).alias("containment")))
