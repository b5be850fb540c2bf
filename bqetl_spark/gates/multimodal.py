"""Multimodal gates: image/audio/video decoding, resizing and frames,
perceptual hashes and their near-duplicate joins and lookups, and
the multimodal curation composer.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from bqetl_spark.functions import multimodal as mm

from bqetl_spark.gates import gate
from bqetl_spark.gates.common import _t, _wav_header
from bqetl_spark.gates.dedup import _DEDUP_CLUSTERS_ORACLE, q_dedup_clusters
from bqetl_spark.gates.trainers import (_CORPUS_KEEP_TRAINED_ORACLE,
                                        q_corpus_keep_trained)


@gate(oracle="""
            SELECT doc_id AS media_id,
                   unnest(range(0, n_chars * 10 + 1, 1000)) AS sample_ts_ms
            FROM documents""")
def q_frame_samples(spark, sf_dir):
    """Multimodal frame-sample plan: documents as fake videos with
    duration 10·n_chars ms, one row per sampled second."""
    docs = _t(spark, sf_dir, "documents")
    media = mm.attach_media(docs, "doc_id",
                            F.encode(F.col("text"), "UTF-8"), "video", "mp4")
    media = media.join(docs.select(F.col("doc_id").alias("media_id"),
                                   (F.col("n_chars") * 10).alias("dur")),
                       "media_id") \
                 .withColumn("meta", F.col("meta").withField("duration_ms",
                                                             F.col("dur")))
    return mm.frame_sample_plan(media, every_ms=1000) \
             .select("media_id", "sample_ts_ms")


def _phash_oracle() -> str:
    """DuckDB replay of the phash_neardup pipeline: the TIFF encode/decode
    is lossless identity (pixel = text byte, luma = 3·byte), so the oracle
    recomputes the fixed-point DCT from the same 64 characters with the
    SAME integer basis (multimodal.phash_dct_table inlined as a VALUES
    table — one source of truth for the 64 constants), then the
    32nd-order-statistic median, the 63-bit packing, the 9×7 banding with
    the max_bucket_size=64 HAVING guard, and the bit_count Hamming verify.
    Everything is BIGINT arithmetic — no float anywhere."""
    from bqetl_spark.functions.multimodal import phash_dct_table

    ctab = phash_dct_table(15)
    ct_rows = ", ".join(f"({u},{x},CAST({ctab[u][x]} AS BIGINT))"
                        for u in range(8) for x in range(8))
    return f"""
    WITH d AS (
      SELECT doc_id, substr(text, 1, 64) AS pfx FROM documents
      WHERE length(text) >= 64
        AND octet_length(encode(substr(text, 1, 64))) = 64
    ), ct(u, x, c) AS (VALUES {ct_rows}),
    pix AS (
      SELECT doc_id, (i-1)//8 AS y, (i-1)%8 AS x,
             CAST(3 * ord(substr(pfx, CAST(i AS INT), 1)) AS BIGINT) AS p
      FROM d, range(1, 65) t(i)
    ), coef AS (
      SELECT doc_id, cu.u AS u, cv.u AS v, SUM(cu.c * cv.c * p) AS val
      FROM pix JOIN ct cu ON cu.x = pix.y JOIN ct cv ON cv.x = pix.x
      GROUP BY doc_id, cu.u, cv.u
    ), ac AS (
      SELECT doc_id, u*8 + v - 1 AS i, val,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY val, u*8 + v) AS rk
      FROM coef WHERE NOT (u = 0 AND v = 0)
    ), med AS (
      SELECT doc_id, val AS m FROM ac WHERE rk = 32
    ), ph AS (
      SELECT ac.doc_id,
             SUM(CASE WHEN ac.val > med.m
                 THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
                 ELSE CAST(0 AS BIGINT) END) AS phash
      FROM ac JOIN med USING (doc_id) GROUP BY ac.doc_id
    ), bands AS (
      SELECT doc_id, j, (phash >> CAST(7*j AS INT)) & 127 AS bv, phash
      FROM ph, range(0, 9) r(j)
    ), ok AS (
      SELECT j, bv FROM bands GROUP BY j, bv HAVING count(*) <= 64
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.phash AS pa, b.phash AS pb
      FROM bands a JOIN ok USING (j, bv)
      JOIN bands b ON a.j = b.j AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, bit_count(xor(pa, pb)) AS hamming
    FROM cand WHERE bit_count(xor(pa, pb)) <= 8"""


_PHASH_ORACLE = _phash_oracle()


# phash_clusters (r11): the certified pHash pair SQL closed
# transitively with the dedup_clusters recursive-CTE pattern
_PHASH_CLUSTERS_ORACLE = f"""
        WITH RECURSIVE pp AS MATERIALIZED (
            SELECT id_a, id_b FROM ({_PHASH_ORACLE}) z),
        pedges AS (
            SELECT id_a AS s, id_b AS d FROM pp
            UNION SELECT id_b, id_a FROM pp),
        reach AS (
            SELECT DISTINCT s AS n, s AS m FROM pedges
            UNION
            SELECT reach.n, e.d FROM reach JOIN pedges e ON reach.m = e.s),
        comp AS (
            SELECT n AS media_id, MIN(m) AS cluster_id FROM reach
            GROUP BY 1),
        sizes AS (
            SELECT cluster_id, count(*) AS cluster_size FROM comp
            GROUP BY 1)
        SELECT comp.media_id, comp.cluster_id, sizes.cluster_size,
               comp.media_id = comp.cluster_id AS is_representative
        FROM comp JOIN sizes USING (cluster_id)"""


@gate(oracle=_PHASH_CLUSTERS_ORACLE)
def q_phash_clusters(spark, sf_dir):
    """End-to-end perceptual image dedup (r11 second half): the
    phash_neardup pair set clustered by connected components into
    (media_id, cluster_id, cluster_size, is_representative) — the image
    twin of dedup_clusters, composing three certified families (TIFF
    codec × banded pHash × min-label clustering). The oracle closes the
    certified pair SQL transitively with the dedup_clusters recursive
    CTE."""
    docs = _t(spark, sf_dir, "documents").filter(
        (F.length("text") >= 64)
        # ASCII prefix required explicitly — see q_multimodal_decode
        & (F.octet_length(F.substring("text", 1, 64)) == 64))
    media = mm.attach_tiff_media(docs, "doc_id", "text", 8, 8,
                                 rows_per_strip=2)
    return mm.phash_clusters(media, max_hamming=8, max_bucket_size=64)


# audio_neardup (r11): LE int16 samples from character pairs,
# single-sample energies, lag() rise bits, 4x8-bit banding + cap
_AUDIO_NEARDUP_ORACLE = """
        WITH ad AS (
            SELECT doc_id, substr(text, 1, 66) AS pfx FROM documents
            WHERE length(text) >= 66
              AND octet_length(encode(substr(text, 1, 66))) = 66),
        smp AS (
            SELECT doc_id, k,
                   CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS s
            FROM (SELECT doc_id, k,
                         ord(substr(pfx, CAST(2*k + 1 AS INT), 1))
                         + 256 * ord(substr(pfx, CAST(2*k + 2 AS INT), 1))
                           AS raw
                  FROM ad, range(0, 33) t(k))),
        en AS (SELECT doc_id, k AS f, CAST(s * s AS BIGINT) AS e FROM smp),
        abits AS (
            SELECT doc_id, f - 1 AS i,
                   CASE WHEN e > pe THEN 1 ELSE 0 END AS b
            FROM (SELECT doc_id, f, e,
                         lag(e) OVER (PARTITION BY doc_id ORDER BY f) AS pe
                  FROM en)
            WHERE f >= 1),
        afp AS (
            SELECT doc_id,
                   SUM(CASE WHEN b = 1
                       THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
                       ELSE CAST(0 AS BIGINT) END) AS fp
            FROM abits GROUP BY doc_id),
        abands AS (
            SELECT doc_id, j, (fp >> CAST(8*j AS INT)) & 255 AS bv, fp
            FROM afp, range(0, 4) r(j)),
        aok AS (
            SELECT j, bv FROM abands GROUP BY j, bv
            HAVING count(*) <= 64),
        acand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                   a.fp AS fa, b.fp AS fb
            FROM abands a JOIN aok USING (j, bv)
            JOIN abands b ON a.j = b.j AND a.bv = b.bv
                         AND a.doc_id < b.doc_id)
        SELECT id_a, id_b, bit_count(xor(fa, fb)) AS hamming
        FROM acand WHERE bit_count(xor(fa, fb)) <= 3"""


@gate(oracle=_AUDIO_NEARDUP_ORACLE)
def q_audio_neardup(spark, sf_dir):
    """Acoustic near-dup pairs (r11 second half): each document's first
    66 ASCII bytes become 33 LE int16 PCM samples of a mono 8 kHz WAV
    (the multimodal_audio construction), decoded by the REAL RIFF
    parser, fingerprinted by frame-energy DELTA sign bits (the Shazam/
    Chromaprint shape, integer-exact: 33 single-sample energies → 32
    rise/fall bits), then paired by 4×8-bit Hamming bands (pigeonhole
    recall 1.0 at hamming ≤ 3, deterministic bucket cap). Completes
    per-modality dedup: text (minhash/simhash), image (pHash), audio
    (this). The oracle replays samples, energies, the lag comparison,
    bit packing, banding, cap and verify — all BIGINT."""
    import struct

    header = (b"RIFF" + (102).to_bytes(4, "little") + b"WAVE"
              + b"fmt " + (16).to_bytes(4, "little")
              + struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
              + b"data" + (66).to_bytes(4, "little"))
    docs = _t(spark, sf_dir, "documents").filter(
        (F.length("text") >= 66)
        # ASCII prefix required explicitly — see q_multimodal_decode
        & (F.octet_length(F.substring("text", 1, 66)) == 66))
    payload = F.concat(F.lit(header),
                       F.substring(F.col("text"), 1, 66).cast("binary"))
    media = mm.attach_media(docs, "doc_id", payload, kind="audio",
                            fmt="wav")
    return mm.audio_neardup(media, frame=1, n_bits=32, max_hamming=3,
                            bands=4, max_bucket_size=64)


# corpus_curate_multimodal (r12): the four certified stage SQLs
# composed verbatim — quality gate, text/image non-representative
# drops, audio keep-min — with the fixed first-failing-stage reason
@gate(oracle=f"""
        WITH cq AS (SELECT doc_id FROM ({_CORPUS_KEEP_TRAINED_ORACLE}) z),
        ctd AS (SELECT DISTINCT doc_id
                FROM ({_DEDUP_CLUSTERS_ORACLE}) z
                WHERE NOT is_representative),
        cid AS (SELECT DISTINCT media_id AS doc_id
                FROM ({_PHASH_CLUSTERS_ORACLE}) z
                WHERE NOT is_representative),
        cad AS (SELECT DISTINCT id_b AS doc_id
                FROM ({_AUDIO_NEARDUP_ORACLE}) z)
        SELECT d.doc_id,
               CASE WHEN cq.doc_id IS NULL THEN 'quality'
                    WHEN ctd.doc_id IS NOT NULL THEN 'text_dup'
                    WHEN cid.doc_id IS NOT NULL THEN 'image_dup'
                    WHEN cad.doc_id IS NOT NULL THEN 'audio_dup'
                    ELSE 'keep' END AS reason,
               (cq.doc_id IS NOT NULL AND ctd.doc_id IS NULL
                AND cid.doc_id IS NULL AND cad.doc_id IS NULL) AS keep
        FROM documents d
        LEFT JOIN cq ON d.doc_id = cq.doc_id
        LEFT JOIN ctd ON d.doc_id = ctd.doc_id
        LEFT JOIN cid ON d.doc_id = cid.doc_id
        LEFT JOIN cad ON d.doc_id = cad.doc_id""")
def q_corpus_curate_multimodal(spark, sf_dir):
    """END-TO-END multimodal corpus curation (r12, VERDICT r11 item 8)
    — the composition a production 100 TB corpus build actually runs,
    now that every per-modality stage is individually certified:

      quality   — corpus_keep_trained (trained perceptron + lang-ID +
                  repetition cap + exact-dedup representative)
      text_dup  — minhash dedup_clusters non-representatives drop
      image_dup — pHash phash_clusters non-representatives drop
      audio_dup — audio_neardup keep-min rule (any doc pairing with a
                  smaller id drops; pair-based dedup's deterministic
                  survivor convention)

    One row per document: (doc_id, keep, reason) with reason = the
    FIRST failing stage in the order above ('keep' if none) — the
    curation report, not just the survivor list. The oracle composes
    the four certified stage SQLs verbatim as subqueries, so the
    hash-match certifies the composition on top of already-certified
    stages. Stage order is fixed and documented; at scale each stage
    is the already-audited shape (no stage added here introduces a
    new join or shuffle pattern)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    # The four stage pipelines are INDEPENDENT until the final join, and
    # each runs several small eager jobs (checkpoint materializations,
    # metadata collects) at plan-build time that would otherwise
    # serialize on the driver. Build them from a small thread pool so
    # their jobs overlap on idle cores (guide §2.6 — Spark's scheduler
    # runs concurrent jobs FIFO with back-fill; results are plain
    # DataFrames, bit-identical to the sequential build).
    from concurrent.futures import ThreadPoolExecutor

    def _quality():
        return (q_corpus_keep_trained(spark, sf_dir)
                .withColumn("__q", F.lit(1)))

    def _text():
        return (q_dedup_clusters(spark, sf_dir)
                .filter(~F.col("is_representative"))
                .select("doc_id").distinct().withColumn("__t", F.lit(1)))

    def _image():
        return (q_phash_clusters(spark, sf_dir)
                .filter(~F.col("is_representative"))
                .select(F.col("media_id").alias("doc_id")).distinct()
                .withColumn("__i", F.lit(1)))

    def _audio():
        return (q_audio_neardup(spark, sf_dir)
                .select(F.col("id_b").alias("doc_id")).distinct()
                .withColumn("__a", F.lit(1)))

    with ThreadPoolExecutor(max_workers=4) as pool:
        fq, ft, fi, fa = (pool.submit(_quality), pool.submit(_text),
                          pool.submit(_image), pool.submit(_audio))
        qk, t, i, a = fq.result(), ft.result(), fi.result(), fa.result()
    flags = (docs.join(qk, "doc_id", "left")
             .join(t, "doc_id", "left")
             .join(i, "doc_id", "left")
             .join(a, "doc_id", "left"))
    reason = (F.when(F.col("__q").isNull(), F.lit("quality"))
              .when(F.col("__t") == 1, F.lit("text_dup"))
              .when(F.col("__i") == 1, F.lit("image_dup"))
              .when(F.col("__a") == 1, F.lit("audio_dup"))
              .otherwise(F.lit("keep")))
    return flags.select("doc_id", reason.alias("reason")) \
        .withColumn("keep", F.col("reason") == "keep")


@gate(oracle="""
            SELECT doc_id AS media_id, octet_length(encode(text)) AS n_bytes
            FROM documents""")
def q_multimodal_bytes(spark, sf_dir):
    """Multimodal plumbing: binary payload column + mapInPandas feature
    extraction (deterministic fake decoder)."""
    docs = _t(spark, sf_dir, "documents")
    media = mm.attach_media(docs, "doc_id", F.encode(F.col("text"), "UTF-8"),
                            kind="image", fmt="png")
    feats = mm.extract_features(media, fake=True)
    return feats.select("media_id", "n_bytes")


# multimodal_decode: recompute the PPM pixel statistics straight
# from the text bytes the query packed into the image — every
# aggregate is an integer sum with one final IEEE division, matching
# image_features bit-for-bit (ASCII corpus: ord == byte).
@gate(oracle="""
            WITH d AS (
              SELECT doc_id, substr(text, 1, 36) AS s
              FROM documents WHERE len(text) >= 36
                AND octet_length(encode(substr(text, 1, 36))) = 36
            ), b AS (
              SELECT doc_id, p, ord(substr(s, p, 1)) AS v,
                     (p - 1) % 3 AS c, (p - 1) // 3 AS q
              FROM d, (SELECT unnest(range(1, 37)) AS p)
            ), px AS (
              SELECT doc_id, q, sum(v) AS psum FROM b GROUP BY doc_id, q
            ), ch AS (
              SELECT doc_id,
                     sum(CASE WHEN c = 0 THEN v END) AS sr,
                     sum(CASE WHEN c = 1 THEN v END) AS sg,
                     sum(CASE WHEN c = 2 THEN v END) AS sb,
                     sum(v) AS st
              FROM b GROUP BY doc_id
            ), lm AS (
              SELECT doc_id, min(psum) AS mn, max(psum) AS mx
              FROM px GROUP BY doc_id
            )
            , feat AS (
              SELECT ch.doc_id AS media_id, CAST(47 AS BIGINT) AS n_bytes,
                     [4.0, 3.0,
                      CAST(sr AS DOUBLE) / 12.0, CAST(sg AS DOUBLE) / 12.0,
                      CAST(sb AS DOUBLE) / 12.0,
                      CAST(mn AS DOUBLE) / 3.0, CAST(mx AS DOUBLE) / 3.0,
                      CAST(st AS DOUBLE) / 36.0] AS feature
              FROM ch JOIN lm ON ch.doc_id = lm.doc_id)
            SELECT media_id, n_bytes, unnest(range(8)) AS idx,
                   unnest(feature) AS value
            FROM feat""")
def q_multimodal_decode(spark, sf_dir):
    """REAL image decode in the gate: each document's first 36 ASCII bytes
    become the pixel array of a 4×3 binary PPM (P6 header + samples built
    with pure Spark expressions); extract_features(fake=False) parses the
    PPM with the pure-Python decoder and emits integer-exact channel/
    luminance statistics, which the oracle recomputes in SQL from the same
    text bytes — a full value-hash gate over a genuine media decode.

    The feature vector is scalarized to (media_id, n_bytes, idx, value)
    rows: the driver's canonicalizer hashes scalar cells only (array cells
    broke the r5 driver run with `unhashable type: 'list'`), and the
    posexplode costs nothing — 8 rows per media replace 1."""
    docs = _t(spark, sf_dir, "documents").filter(
        (F.length("text") >= 36)
        # ASCII prefix required EXPLICITLY (ADVICE r6): the payload is a
        # byte slice while the oracle reads per-character ord(); equal
        # char/byte counts pin the prefix to 1-byte codepoints, making
        # the gate data-independent instead of relying on the corpus
        # happening to be ASCII
        & (F.octet_length(F.substring("text", 1, 36)) == 36))
    payload = F.concat(F.lit("P6\n4 3\n255\n").cast("binary"),
                       F.substring(F.col("text"), 1, 36).cast("binary"))
    media = mm.attach_media(docs, "doc_id", payload, kind="image", fmt="ppm")
    feats = mm.extract_features(media, fake=False)
    return (feats.select("media_id", "n_bytes",
                         F.posexplode("feature").alias("idx", "value"))
            .select("media_id", "n_bytes",
                    F.col("idx").cast("long").alias("idx"), "value"))


# multimodal_png: same pixel statistics as multimodal_decode (the
# pixels ARE the same 36 text bytes), no n_bytes (DEFLATE output
# size is not SQL-replayable) — a hash-match certifies the PNG
# encode→decode chain reproduces the source bytes exactly
@gate(oracle="""
            WITH d AS (
              SELECT doc_id, substr(text, 1, 36) AS s
              FROM documents WHERE len(text) >= 36
                AND octet_length(encode(substr(text, 1, 36))) = 36
            ), b AS (
              SELECT doc_id, p, ord(substr(s, p, 1)) AS v,
                     (p - 1) % 3 AS c, (p - 1) // 3 AS q
              FROM d, (SELECT unnest(range(1, 37)) AS p)
            ), px AS (
              SELECT doc_id, q, sum(v) AS psum FROM b GROUP BY doc_id, q
            ), ch AS (
              SELECT doc_id,
                     sum(CASE WHEN c = 0 THEN v END) AS sr,
                     sum(CASE WHEN c = 1 THEN v END) AS sg,
                     sum(CASE WHEN c = 2 THEN v END) AS sb,
                     sum(v) AS st
              FROM b GROUP BY doc_id
            ), lm AS (
              SELECT doc_id, min(psum) AS mn, max(psum) AS mx
              FROM px GROUP BY doc_id
            ), feat AS (
              SELECT ch.doc_id AS media_id,
                     [4.0, 3.0,
                      CAST(sr AS DOUBLE) / 12.0, CAST(sg AS DOUBLE) / 12.0,
                      CAST(sb AS DOUBLE) / 12.0,
                      CAST(mn AS DOUBLE) / 3.0, CAST(mx AS DOUBLE) / 3.0,
                      CAST(st AS DOUBLE) / 36.0] AS feature
              FROM ch JOIN lm ON ch.doc_id = lm.doc_id)
            SELECT media_id, unnest(range(8)) AS idx,
                   unnest(feature) AS value
            FROM feat""")
def q_multimodal_png(spark, sf_dir):
    """REAL compressed-image decode in the gate (r6): each document's
    first 36 ASCII bytes become the pixels of a 4×3 truecolor PNG —
    encoded per row with filters none/sub/up, DEFLATE-compressed with
    stdlib zlib (multimodal.attach_png_media), then decoded by the
    pure-Python PNG decoder (CRC-checked chunks, unfiltering) and
    feature-extracted with the same integer-exact statistics as the PPM
    gate. The oracle recomputes the statistics straight from the text
    bytes, so a hash-match certifies the full encode→DEFLATE→decode→
    unfilter→stats chain. n_bytes is compression-dependent (not
    SQL-replayable) and deliberately excluded from the gate output."""
    docs = _t(spark, sf_dir, "documents").filter(
        (F.length("text") >= 36)
        # ASCII prefix required EXPLICITLY (ADVICE r6): the payload is a
        # byte slice while the oracle reads per-character ord(); equal
        # char/byte counts pin the prefix to 1-byte codepoints, making
        # the gate data-independent instead of relying on the corpus
        # happening to be ASCII
        & (F.octet_length(F.substring("text", 1, 36)) == 36))
    media = mm.attach_png_media(docs, "doc_id", "text", 4, 3)
    feats = mm.extract_features(media, fake=False)
    return (feats.select("media_id",
                         F.posexplode("feature").alias("idx", "value"))
            .select("media_id", F.col("idx").cast("long").alias("idx"),
                    "value"))


# multimodal_jpeg: the decoded pixels ARE the first 12 text bytes
# (8×8-constant blocks survive the lossy codec exactly — see the
# gate docstring), so the statistics replay per character. Each
# byte owns one 64-pixel block of a 32×24 gray image, so channel
# means are sum(v)·64/768, luminance is (r+g+b)/3 = v, and the
# divisions reproduce image_features' IEEE operations verbatim.
@gate(oracle="""
            WITH d AS (
              SELECT doc_id, substr(text, 1, 12) AS s
              FROM documents WHERE len(text) >= 12
                AND octet_length(encode(substr(text, 1, 12))) = 12
            ), b AS (
              SELECT doc_id, ord(substr(s, p, 1)) AS v
              FROM d, (SELECT unnest(range(1, 13)) AS p)
            ), agg AS (
              SELECT doc_id AS media_id, sum(v) AS sv,
                     min(v) AS mn, max(v) AS mx
              FROM b GROUP BY doc_id
            ), feat AS (
              SELECT media_id,
                     [32.0, 24.0,
                      CAST(sv * 64 AS DOUBLE) / 768,
                      CAST(sv * 64 AS DOUBLE) / 768,
                      CAST(sv * 64 AS DOUBLE) / 768,
                      CAST(3 * mn AS DOUBLE) / 3.0,
                      CAST(3 * mx AS DOUBLE) / 3.0,
                      CAST(sv * 192 AS DOUBLE) / 2304.0] AS feature
              FROM agg)
            SELECT media_id, unnest(range(8)) AS idx,
                   unnest(feature) AS value
            FROM feat""")
def q_multimodal_jpeg(spark, sf_dir):
    """REAL lossy-codec decode in the gate (r7): each document's first 12
    ASCII bytes become the 8×8-CONSTANT blocks of a 32×24 grayscale
    baseline JPEG — encoded with the pure-Python T.81 encoder (float
    FDCT, quantize, Annex-K Huffman, byte stuffing), decoded by the full
    baseline decoder (marker parse, canonical Huffman, dequant, float
    IDCT), then feature-extracted with the same integer-exact statistics
    as the other image gates. Constant blocks are DC-only and survive
    quantization EXACTLY (DC = 8·(v−128), ACs quantize to 0), so the
    decoded pixels equal the source bytes and the oracle recomputes the
    statistics per character in SQL — the one shape that makes a lossy
    DCT codec value-hash-oracle-able. The decoder itself is layout-
    agnostic (tests decode arbitrary images). n_bytes is entropy-coded
    size (not SQL-replayable), excluded like the PNG gate."""
    docs = _t(spark, sf_dir, "documents").filter(
        (F.length("text") >= 12)
        & (F.octet_length(F.substring("text", 1, 12)) == 12))
    media = mm.attach_jpeg_media(docs, "doc_id", "text", 4, 3)
    feats = mm.extract_features(media, fake=False)
    return (feats.select("media_id",
                         F.posexplode("feature").alias("idx", "value"))
            .select("media_id", F.col("idx").cast("long").alias("idx"),
                    "value"))


# multimodal_gif: the decoded pixels ARE the first 24 text bytes
# (lossless LZW + identity grayscale palette), one byte per pixel
# of a 6×4 gray image — channel means are sum(v)/24, luminance is
# (r+g+b)/3 = v, divisions reproduce image_features' IEEE ops.
@gate(oracle="""
            WITH d AS (
              SELECT doc_id, substr(text, 1, 24) AS s
              FROM documents WHERE len(text) >= 24
                AND octet_length(encode(substr(text, 1, 24))) = 24
            ), b AS (
              SELECT doc_id, ord(substr(s, p, 1)) AS v
              FROM d, (SELECT unnest(range(1, 25)) AS p)
            ), agg AS (
              SELECT doc_id AS media_id, sum(v) AS sv,
                     min(v) AS mn, max(v) AS mx
              FROM b GROUP BY doc_id
            ), feat AS (
              SELECT media_id,
                     [6.0, 4.0,
                      CAST(sv AS DOUBLE) / 24,
                      CAST(sv AS DOUBLE) / 24,
                      CAST(sv AS DOUBLE) / 24,
                      CAST(3 * mn AS DOUBLE) / 3.0,
                      CAST(3 * mx AS DOUBLE) / 3.0,
                      CAST(3 * sv AS DOUBLE) / 72.0] AS feature
              FROM agg)
            SELECT media_id, unnest(range(8)) AS idx,
                   unnest(feature) AS value
            FROM feat""")
def q_multimodal_gif(spark, sf_dir):
    """REAL palette-indexed image decode in the gate (r9): each
    document's first 24 ASCII bytes become the pixels of a 6×4 GIF89a
    with the identity grayscale palette — LZW-compressed with the
    pure-Python encoder (variable code width, 12-bit cap, clear/EOI,
    sub-block framing; multimodal.encode_gif_gray), then decoded by the
    full GIF decoder (header/LSD/color-table parse, sub-block joining,
    LZW with KwKwK and width growth, palette mapping) and
    feature-extracted with the same integer-exact statistics as the
    other image gates. The decoder is layout-agnostic (tests pin the
    canonical public 1×1-red GIF test vector and arbitrary-data
    roundtrips through all code-width boundaries); the grayscale
    palette is what makes the LOSSLESS chain value-oracle-able — the
    oracle recomputes the statistics per character. n_bytes is
    LZW-output size (not SQL-replayable), excluded like PNG/JPEG."""
    docs = _t(spark, sf_dir, "documents").filter(
        (F.length("text") >= 24)
        & (F.octet_length(F.substring("text", 1, 24)) == 24))
    media = mm.attach_gif_media(docs, "doc_id", "text", 6, 4)
    feats = mm.extract_features(media, fake=False)
    return (feats.select("media_id",
                         F.posexplode("feature").alias("idx", "value"))
            .select("media_id", F.col("idx").cast("long").alias("idx"),
                    "value"))


# multimodal_qoi: the decoded pixels ARE the first 40 text bytes
# (QOI is lossless; grayscale-as-RGB), one byte per pixel of an
# 8×5 image — channel means are sum(v)/40, luminance is
# (r+g+b)/3 = v, divisions reproduce image_features' IEEE ops.
@gate(oracle="""
            WITH d AS (
              SELECT doc_id, substr(text, 1, 40) AS s
              FROM documents WHERE len(text) >= 40
                AND octet_length(encode(substr(text, 1, 40))) = 40
            ), b AS (
              SELECT doc_id, ord(substr(s, p, 1)) AS v
              FROM d, (SELECT unnest(range(1, 41)) AS p)
            ), agg AS (
              SELECT doc_id AS media_id, sum(v) AS sv,
                     min(v) AS mn, max(v) AS mx
              FROM b GROUP BY doc_id
            ), feat AS (
              SELECT media_id,
                     [8.0, 5.0,
                      CAST(sv AS DOUBLE) / 40,
                      CAST(sv AS DOUBLE) / 40,
                      CAST(sv AS DOUBLE) / 40,
                      CAST(3 * mn AS DOUBLE) / 3.0,
                      CAST(3 * mx AS DOUBLE) / 3.0,
                      CAST(3 * sv AS DOUBLE) / 120.0] AS feature
              FROM agg)
            SELECT media_id, unnest(range(8)) AS idx,
                   unnest(feature) AS value
            FROM feat""")
def q_multimodal_qoi(spark, sf_dir):
    """REAL QOI decode in the gate (r10): each document's first 40 ASCII
    bytes become the pixels of an 8×5 grayscale-as-RGB QOI image —
    encoded with the pure-Python reference-order encoder (run → color
    cache → diff → luma → rgb; multimodal.encode_qoi_gray), then decoded
    by the full QOI decoder (big-endian header, 64-entry color cache,
    all six chunk ops, end-marker check) and feature-extracted with the
    same integer-exact statistics as the other image gates. QOI is
    lossless, so the decoded pixels ARE the source bytes and the oracle
    recomputes the statistics per character. n_bytes is QOI-stream size
    (not SQL-replayable), excluded like PNG/JPEG/GIF."""
    docs = _t(spark, sf_dir, "documents").filter(
        (F.length("text") >= 40)
        & (F.octet_length(F.substring("text", 1, 40)) == 40))
    media = mm.attach_qoi_media(docs, "doc_id", "text", 8, 5)
    feats = mm.extract_features(media, fake=False)
    return (feats.select("media_id",
                         F.posexplode("feature").alias("idx", "value"))
            .select("media_id", F.col("idx").cast("long").alias("idx"),
                    "value"))


# multimodal_tiff: the decoded pixels ARE the first 28 text
# bytes (lossless multi-strip TIFF), one byte per pixel of a
# 7×4 image — same statistics family as GIF/QOI
@gate(oracle="""
            WITH d AS (
              SELECT doc_id, substr(text, 1, 28) AS s
              FROM documents WHERE len(text) >= 28
                AND octet_length(encode(substr(text, 1, 28))) = 28
            ), b AS (
              SELECT doc_id, ord(substr(s, p, 1)) AS v
              FROM d, (SELECT unnest(range(1, 29)) AS p)
            ), agg AS (
              SELECT doc_id AS media_id, sum(v) AS sv,
                     min(v) AS mn, max(v) AS mx
              FROM b GROUP BY doc_id
            ), feat AS (
              SELECT media_id,
                     [7.0, 4.0,
                      CAST(sv AS DOUBLE) / 28,
                      CAST(sv AS DOUBLE) / 28,
                      CAST(sv AS DOUBLE) / 28,
                      CAST(3 * mn AS DOUBLE) / 3.0,
                      CAST(3 * mx AS DOUBLE) / 3.0,
                      CAST(3 * sv AS DOUBLE) / 84.0] AS feature
              FROM agg)
            SELECT media_id, unnest(range(8)) AS idx,
                   unnest(feature) AS value
            FROM feat""")
def q_multimodal_tiff(spark, sf_dir):
    """REAL TIFF decode in the gate (r10): each document's first 28
    ASCII bytes become a 7×4 grayscale baseline TIFF written with
    rows_per_strip=2, so EVERY document exercises the decoder's
    multi-strip reassembly and offset-array indirection (the part of
    IFD parsing that actually bites — values inline when ≤4 bytes,
    pointed otherwise). Lossless, so the oracle recomputes the image
    statistics per character (the GIF/QOI discipline); n_bytes IS
    deterministic for TIFF (fixed layout) but excluded for family
    consistency. Endianness + WhiteIsZero paths pinned in pytest."""
    docs = _t(spark, sf_dir, "documents").filter(
        (F.length("text") >= 28)
        & (F.octet_length(F.substring("text", 1, 28)) == 28))
    media = mm.attach_tiff_media(docs, "doc_id", "text", 7, 4,
                                 rows_per_strip=2)
    feats = mm.extract_features(media, fake=False)
    return (feats.select("media_id",
                         F.posexplode("feature").alias("idx", "value"))
            .select("media_id", F.col("idx").cast("long").alias("idx"),
                    "value"))


@gate(oracle=_PHASH_ORACLE)
def q_phash_neardup(spark, sf_dir):
    """Perceptual image near-dup pairs (r11): each document's first 64
    ASCII bytes become an 8×8 grayscale TIFF (the lossless codec family),
    decoded by the REAL TIFF decoder, then hashed with the integer-exact
    DCT pHash (multimodal.image_phash: fixed-point DCT basis, 63 AC sign
    bits vs the 32nd-order-statistic median) and paired by Hamming-banded
    self-join (9 bands × 7 bits — pigeonhole recall 1.0 at hamming ≤ 8,
    deterministic max_bucket_size guard). The image-dedup step of a
    multimodal training pipeline, composing two certified families:
    codecs × banded dedup. The oracle replays decode-equivalent pixels,
    all 64 DCT sums, the order-statistic median, bit packing, banding,
    the bucket cap and the Hamming verify — the whole pipeline
    value-hashed."""
    docs = _t(spark, sf_dir, "documents").filter(
        (F.length("text") >= 64)
        # ASCII prefix required explicitly — see q_multimodal_decode
        & (F.octet_length(F.substring("text", 1, 64)) == 64))
    media = mm.attach_tiff_media(docs, "doc_id", "text", 8, 8,
                                 rows_per_strip=2)
    return mm.phash_neardup(media, max_hamming=8, max_bucket_size=64)


def _phash_dihedral_oracle() -> str:
    """DuckDB replay of q_phash_dihedral: TIFF encode/decode is lossless
    identity (luma = 3·byte), so pixels come straight from the text —
    the original layout and the rot90 permutation (source char position
    8x + 7 − y + 1 for output index 8y+x). One separable DCT per media
    (row pass then column pass — 8-term sums instead of the 64-term
    direct form), then the D4 variant table from
    multimodal.PHASH_DIHEDRAL_VARIANTS (one source of truth: variant t
    of the spectrum is (−1)^{a·u+b·v}·D[v][u] when swapped — exact in
    BIGINT with the truncate-toward-zero basis), per-variant
    order-statistic median + 63-bit pack, MIN over the orbit, and the
    window clustering over the canonical hash."""
    from bqetl_spark.functions.multimodal import (PHASH_DIHEDRAL_VARIANTS,
                                                  phash_dct_table_sym)

    ctab = phash_dct_table_sym(15)
    ct_rows = ", ".join(f"({u},{x},CAST({ctab[u][x]} AS BIGINT))"
                        for u in range(8) for x in range(8))
    tr_rows = ", ".join(f"({t},{sw},{a},{b})"
                        for t, sw, a, b in PHASH_DIHEDRAL_VARIANTS)
    return f"""
    WITH d AS (
      SELECT doc_id, substr(text, 1, 64) AS pfx FROM documents
      WHERE length(text) >= 64
        AND octet_length(encode(substr(text, 1, 64))) = 64
    ), ct(u, x, c) AS (VALUES {ct_rows}),
    tr(t, sw, a, b) AS (VALUES {tr_rows}),
    pix AS (
      SELECT 2*doc_id AS mid, (i-1)//8 AS y, (i-1)%8 AS x,
             CAST(3 * ord(substr(pfx, CAST(i AS INT), 1)) AS BIGINT) AS p
      FROM d, range(1, 65) t(i)
      UNION ALL
      SELECT 2*doc_id + 1, (i-1)//8, (i-1)%8,
             CAST(3 * ord(substr(pfx,
                  CAST(8*((i-1)%8) + 7 - (i-1)//8 + 1 AS INT), 1))
                  AS BIGINT)
      FROM d, range(1, 65) t(i)
    ), rowp AS (
      SELECT mid, cu.u AS u, pix.x AS x,
             CAST(SUM(cu.c * p) AS BIGINT) AS rv
      FROM pix JOIN ct cu ON cu.x = pix.y GROUP BY mid, cu.u, pix.x
    ), coef AS (
      SELECT mid, rowp.u AS u, cv.u AS v,
             CAST(SUM(cv.c * rv) AS BIGINT) AS val
      FROM rowp JOIN ct cv ON cv.x = rowp.x GROUP BY mid, rowp.u, cv.u
    ), vc AS (
      SELECT mid, t,
             CASE WHEN sw = 1 THEN v ELSE u END AS u2,
             CASE WHEN sw = 1 THEN u ELSE v END AS v2,
             val * (CASE WHEN (a * (CASE WHEN sw = 1 THEN v ELSE u END)
                         + b * (CASE WHEN sw = 1 THEN u ELSE v END))
                         % 2 = 1
                    THEN -1 ELSE 1 END) AS val
      FROM coef, tr
    ), ac AS (
      SELECT mid, t, u2*8 + v2 - 1 AS i, val,
             row_number() OVER (PARTITION BY mid, t
                                ORDER BY val, u2*8 + v2) AS rk
      FROM vc WHERE NOT (u2 = 0 AND v2 = 0)
    ), med AS (
      SELECT mid, t, val AS m FROM ac WHERE rk = 32
    ), ph AS (
      -- CAST the bit-pack sum: DuckDB SUM(BIGINT) is HUGEINT, and the
      -- driver's fetch path converts HUGEINT output columns to float64,
      -- which loses bits above 2^53 (the r12 hash_match failure). The
      -- 63-bit pack always fits BIGINT, so the cast is exact.
      SELECT ac.mid, ac.t,
             CAST(SUM(CASE WHEN ac.val > med.m
                 THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
                 ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS h
      FROM ac JOIN med USING (mid, t) GROUP BY ac.mid, ac.t
    ), canon AS (
      SELECT mid AS media_id, MIN(h) AS phash FROM ph GROUP BY mid
    )
    SELECT media_id, phash,
           MIN(media_id) OVER (PARTITION BY phash) AS cluster_id,
           COUNT(*) OVER (PARTITION BY phash) AS cluster_size
    FROM canon"""


_PHASH_DIHEDRAL_ORACLE = _phash_dihedral_oracle()


@gate(oracle=_PHASH_DIHEDRAL_ORACLE)
def q_phash_dihedral(spark, sf_dir):
    """Rotation/mirror-INVARIANT perceptual image dedup (r12): every
    document yields TWO real 8×8 grayscale TIFFs — the original (first
    64 ASCII bytes, media_id 2·doc_id) and its 90°-rotated copy (the
    same bytes pixel-permuted BEFORE encoding, media_id 2·doc_id+1) —
    both decoded by the REAL TIFF decoder and hashed with
    multimodal.image_phash_dihedral: ONE fixed-point DCT per image,
    then all 8 dihedral-orbit spectra derived algebraically (transpose
    + sign flips, exact in int64 thanks to the truncate-toward-zero
    basis phash_dct_table_sym), 8 order-statistic medians / 63-bit
    packs, min = the canonical hash. Rotated pairs MUST land in the
    same cluster — certified implicitly because cluster ids and sizes
    are value-hashed (every (2d, 2d+1) pair shares cluster_id). The
    oracle replays pixel permutation → separable DCT → the D4
    variant table → 8 packs → min → the window clustering, all BIGINT.

    Scale: map-only hash scan (the image_phash posture — at 100 TB the
    canonical-hash table is 16 B/row), then a plain equi-key window —
    orbit collapse replaces Hamming banding, so flipped re-uploads
    dedup with NO pair join at all."""
    docs = _t(spark, sf_dir, "documents").filter(
        (F.length("text") >= 64)
        # ASCII prefix required explicitly — see q_multimodal_decode
        & (F.octet_length(F.substring("text", 1, 64)) == 64))
    # rotated image byte at row-major index i: source index 8x + (7-y),
    # y = i//8, x = i%8 (rot90 ccw: P'[y][x] = P[x][7-y]); 1-based substr
    rot = F.concat(*[F.substring("text", 8 * (i % 8) + 7 - (i // 8) + 1, 1)
                     for i in range(64)])
    a = docs.select((F.col("doc_id") * 2).alias("mid"), "text")
    b = docs.select((F.col("doc_id") * 2 + 1).alias("mid"),
                    rot.alias("text"))
    media = mm.attach_tiff_media(a.unionByName(b), "mid", "text", 8, 8,
                                 rows_per_strip=2)
    canon = mm.image_phash_dihedral(media)
    w = Window.partitionBy("phash")
    return canon.select(
        "media_id", "phash",
        F.min("media_id").over(w).alias("cluster_id"),
        F.count(F.lit(1)).over(w).alias("cluster_size"))


def _video_dihedral_oracle() -> str:
    """DuckDB replay of q_video_dihedral: pixels come straight from the
    text for BOTH layouts (original: pixel (y,x) of frame f = bytes at
    96f + 3·(8y+x) + 1..3; mirrored: the same with x → 7−x), then the
    per-frame separable DCT, the D4 variant algebra, per-variant
    order-statistic median + 63-bit pack, MIN over the orbit per frame,
    the frame-frequency cap, the exact canonical-hash join and the
    ≥ 2 frame-match aggregation. Pure BIGINT."""
    from bqetl_spark.functions.multimodal import (PHASH_DIHEDRAL_VARIANTS,
                                                  phash_dct_table_sym)

    ctab = phash_dct_table_sym(15)
    ct_rows = ", ".join(f"({u},{x},CAST({ctab[u][x]} AS BIGINT))"
                        for u in range(8) for x in range(8))
    tr_rows = ", ".join(f"({t},{sw},{a},{b})"
                        for t, sw, a, b in PHASH_DIHEDRAL_VARIANTS)
    return f"""
    WITH d AS (
      SELECT doc_id, substr(text, 1, 384) AS pfx FROM documents
      WHERE length(text) >= 384
        AND octet_length(encode(substr(text, 1, 384))) = 384
    ), ct(u, x, c) AS (VALUES {ct_rows}),
    tr(t, sw, a, b) AS (VALUES {tr_rows}),
    pix AS (
      SELECT 2*doc_id AS mid, f.f AS fidx, (i-1)//8 AS y, (i-1)%8 AS x,
             CAST(ord(substr(pfx, CAST(96*f.f + 3*(i-1) + 1 AS INT), 1))
                + ord(substr(pfx, CAST(96*f.f + 3*(i-1) + 2 AS INT), 1))
                + ord(substr(pfx, CAST(96*f.f + 3*(i-1) + 3 AS INT), 1))
               AS BIGINT) AS p
      FROM d, range(0, 3) f(f), range(1, 65) t(i)
      UNION ALL
      SELECT 2*doc_id + 1, f.f, (i-1)//8, (i-1)%8,
             CAST(ord(substr(pfx, CAST(96*f.f
                  + 3*(8*((i-1)//8) + 7 - (i-1)%8) + 1 AS INT), 1))
                + ord(substr(pfx, CAST(96*f.f
                  + 3*(8*((i-1)//8) + 7 - (i-1)%8) + 2 AS INT), 1))
                + ord(substr(pfx, CAST(96*f.f
                  + 3*(8*((i-1)//8) + 7 - (i-1)%8) + 3 AS INT), 1))
               AS BIGINT)
      FROM d, range(0, 3) f(f), range(1, 65) t(i)
    ), rowp AS (
      SELECT mid, fidx, cu.u AS u, pix.x AS x, SUM(cu.c * p) AS rv
      FROM pix JOIN ct cu ON cu.x = pix.y
      GROUP BY mid, fidx, cu.u, pix.x
    ), coef AS (
      SELECT mid, fidx, rowp.u AS u, cv.u AS v, SUM(cv.c * rv) AS val
      FROM rowp JOIN ct cv ON cv.x = rowp.x
      GROUP BY mid, fidx, rowp.u, cv.u
    ), vc AS (
      SELECT mid, fidx, t,
             CASE WHEN sw = 1 THEN v ELSE u END AS u2,
             CASE WHEN sw = 1 THEN u ELSE v END AS v2,
             val * (CASE WHEN (a * (CASE WHEN sw = 1 THEN v ELSE u END)
                         + b * (CASE WHEN sw = 1 THEN u ELSE v END))
                         % 2 = 1
                    THEN -1 ELSE 1 END) AS val
      FROM coef, tr
    ), ac AS (
      SELECT mid, fidx, t, u2*8 + v2 - 1 AS i, val,
             row_number() OVER (PARTITION BY mid, fidx, t
                                ORDER BY val, u2*8 + v2) AS rk
      FROM vc WHERE NOT (u2 = 0 AND v2 = 0)
    ), med AS (
      SELECT mid, fidx, t, val AS m FROM ac WHERE rk = 32
    ), ph AS (
      SELECT ac.mid, ac.fidx, ac.t,
             SUM(CASE WHEN ac.val > med.m
                 THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
                 ELSE CAST(0 AS BIGINT) END) AS h
      FROM ac JOIN med USING (mid, fidx, t)
      GROUP BY ac.mid, ac.fidx, ac.t
    ), canon AS (
      SELECT mid, fidx, MIN(h) AS phash FROM ph GROUP BY mid, fidx
    ), ok AS (
      SELECT phash FROM canon GROUP BY phash HAVING count(*) <= 64
    ), co AS (
      SELECT canon.* FROM canon JOIN ok USING (phash)
    ), pr AS (
      SELECT a.mid AS id_a, b.mid AS id_b
      FROM co a JOIN co b ON a.phash = b.phash AND a.mid < b.mid
    )
    SELECT id_a, id_b, count(*) AS n_frame_matches
    FROM pr GROUP BY id_a, id_b HAVING count(*) >= 2"""


_VIDEO_DIHEDRAL_ORACLE = _video_dihedral_oracle()


@gate(oracle=_VIDEO_DIHEDRAL_ORACLE)
def q_video_dihedral(spark, sf_dir):
    """Mirrored-video re-upload detection (r12): every document yields
    TWO 3-frame concatenated-P6 streams — the q_video_neardup original
    (overlapping 192-byte windows at stride 96, media_id 2·doc_id) and
    a copy with every frame HORIZONTALLY MIRRORED at the pixel level
    before encoding (pixel rows reversed 3 bytes at a time, media_id
    2·doc_id+1). Plain frame pHash misses mirrored re-uploads entirely
    (a flip toggles ~half the sign bits of every frame); the
    orbit-canonical hash (multimodal.video_frame_phash_dihedral — one
    DCT per frame, the D4 algebra of phash_dihedral) makes them
    fingerprint identically, so every (2d, 2d+1) pair MUST surface with
    n_frame_matches = 3 in the value-hashed output. Pairing is one
    exact equi-join on the canonical hash (video_dihedral_pairs) — no
    banding, frame-hash frequency cap as the boilerplate shield. The
    oracle replays both pixel layouts → separable DCT → the D4 variant
    table → per-frame canonical min → cap → join → the pair counts,
    all BIGINT.

    Scale: the same map-only einsum scan as video_frame_phash (the
    orbit is derived algebraically, not 8 more DCTs), then a
    metadata-scale exact join — cheaper than the Hamming-banded path it
    complements."""
    from bqetl_spark.caching import pin

    docs = _t(spark, sf_dir, "documents").filter(
        (F.length("text") >= 384)
        # ASCII prefix required explicitly — see q_multimodal_decode
        & (F.octet_length(F.substring("text", 1, 384)) == 384))
    hdr = F.lit("P6\n8 8\n255\n").cast("binary")
    frame = lambda k: F.concat(
        hdr, F.substring(F.col("text"), 96 * k + 1, 192).cast("binary"))

    def mframe(k):
        # fliplr at the pixel level: out pixel (y, x) = src (y, 7-x),
        # pixels are 3-byte RGB groups — 64 three-byte slices per frame
        parts = [hdr]
        for y in range(8):
            for x in range(8):
                pos = 96 * k + 3 * (8 * y + (7 - x)) + 1
                parts.append(F.substring("text", pos, 3).cast("binary"))
        return F.concat(*parts)

    a = docs.select((F.col("doc_id") * 2).alias("mid"),
                    F.concat(frame(0), frame(1), frame(2))
                    .alias("payload"))
    b = docs.select((F.col("doc_id") * 2 + 1).alias("mid"),
                    F.concat(mframe(0), mframe(1), mframe(2))
                    .alias("payload"))
    media = mm.attach_media(a.unionByName(b), "mid", F.col("payload"),
                            kind="video", fmt="ppms")
    fh = pin(mm.video_frame_phash_dihedral(media))
    return mm.video_dihedral_pairs(fh, max_bucket_size=64,
                                   min_frame_matches=2)


# multimodal_mulaw: same sample construction, then the G.711
# decode(encode(x)) quantizer replayed per sample — CASE-ladder
# exponent over the biased range, integer mantissa shifts; ASCII
# samples are all positive (sign branch pinned in pytest instead)
@gate(oracle="""
        WITH d AS (
          SELECT doc_id, substr(text, 1, 64) AS s
          FROM documents WHERE len(text) >= 64
                AND octet_length(encode(substr(text, 1, 64))) = 64
        ), smp AS (
          SELECT doc_id,
                 ord(substr(s, 2 * i + 1, 1))
                 + 256 * ord(substr(s, 2 * i + 2, 1)) AS v
          FROM d, (SELECT unnest(range(0, 32)) AS i)
        ), expo AS (
          SELECT doc_id, a,
                 CASE WHEN a < 256 THEN 0 WHEN a < 512 THEN 1
                      WHEN a < 1024 THEN 2 WHEN a < 2048 THEN 3
                      WHEN a < 4096 THEN 4 WHEN a < 8192 THEN 5
                      WHEN a < 16384 THEN 6 ELSE 7 END AS e
          FROM (SELECT doc_id, LEAST(v, 32635) + 132 AS a FROM smp) c
        ), q AS (
          SELECT doc_id,
                 (((a // (1 << (e + 3))) % 16) * 8 + 132) * (1 << e)
                   - 132 AS v
          FROM expo
        ), agg AS (
          SELECT doc_id, sum(v) AS sv, min(v) AS mn, max(v) AS mx,
                 sum(v * v) AS sq
          FROM q GROUP BY doc_id
        ), feat AS (
          SELECT doc_id AS media_id, CAST(108 AS BIGINT) AS n_bytes,
                 [1.0, 8000.0, 32.0, 4.0,
                  CAST(sv AS DOUBLE) / 32.0,
                  CAST(mn AS DOUBLE), CAST(mx AS DOUBLE),
                  sqrt(CAST(sq AS DOUBLE) / 32.0)] AS feature
          FROM agg)
        SELECT media_id, n_bytes, unnest(range(8)) AS idx,
               unnest(feature) AS value
        FROM feat""")
def q_multimodal_mulaw(spark, sf_dir):
    """REAL lossy audio codec in the gate (r10): the multimodal_audio
    WAV (32 LE int16 samples from 64 ASCII bytes) transcoded through
    G.711 μ-law (multimodal.transcode_wav_mulaw — compress to 8-bit
    companded bytes, expand back) and feature-extracted. μ-law
    decode(encode(x)) is a deterministic pure-integer quantizer, so
    the oracle replays the quantized sample per character pair with a
    CASE-ladder exponent + integer mantissa arithmetic — the 1-D
    analogue of the JPEG constant-block discipline. ASCII samples are
    always positive and reach 32639 > the 32635 clip, so the clamp
    path is exercised on the gate corpus; the sign path is pinned in
    pytest."""
    import struct

    header = (b"RIFF" + (100).to_bytes(4, "little") + b"WAVE"
              + b"fmt " + (16).to_bytes(4, "little")
              + struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
              + b"data" + (64).to_bytes(4, "little"))
    docs = _t(spark, sf_dir, "documents").filter(
        (F.length("text") >= 64)
        & (F.octet_length(F.substring("text", 1, 64)) == 64))
    payload = F.concat(F.lit(header),
                       F.substring(F.col("text"), 1, 64).cast("binary"))
    media = mm.attach_media(docs, "doc_id", payload, kind="audio",
                            fmt="wav")
    feats = mm.extract_features(mm.transcode_wav_mulaw(media), fake=False)
    return (feats.select("media_id", "n_bytes",
                         F.posexplode("feature").alias("idx", "value"))
            .select("media_id", "n_bytes",
                    F.col("idx").cast("long").alias("idx"), "value"))


# multimodal_audio: little-endian 16-bit samples rebuilt from the text
# bytes (s_i = byte(2i+1) + 256*byte(2i+2), ASCII so always positive),
# statistics as integer sums + one IEEE division / correctly-rounded
# sqrt — matching audio_features bit-for-bit
@gate(oracle="""
        WITH d AS (
          SELECT doc_id, substr(text, 1, 64) AS s
          FROM documents WHERE len(text) >= 64
                AND octet_length(encode(substr(text, 1, 64))) = 64
        ), smp AS (
          SELECT doc_id,
                 ord(substr(s, 2 * i + 1, 1))
                 + 256 * ord(substr(s, 2 * i + 2, 1)) AS v
          FROM d, (SELECT unnest(range(0, 32)) AS i)
        ), agg AS (
          SELECT doc_id, sum(v) AS sv, min(v) AS mn, max(v) AS mx,
                 sum(v * v) AS sq
          FROM smp GROUP BY doc_id
        ), feat AS (
          SELECT doc_id AS media_id, CAST(108 AS BIGINT) AS n_bytes,
                 [1.0, 8000.0, 32.0, 4.0,
                  CAST(sv AS DOUBLE) / 32.0,
                  CAST(mn AS DOUBLE), CAST(mx AS DOUBLE),
                  sqrt(CAST(sq AS DOUBLE) / 32.0)] AS feature
          FROM agg)
        SELECT media_id, n_bytes, unnest(range(8)) AS idx,
               unnest(feature) AS value
        FROM feat""")
def q_multimodal_audio(spark, sf_dir):
    """REAL audio decode in the gate: each document's first 64 ASCII bytes
    become the PCM payload of a mono 8 kHz 16-bit WAV (RIFF header built
    as a binary literal); extract_features(fake=False) parses the RIFF
    chunks with the pure-Python decoder and emits integer-exact sample
    statistics (sums + one IEEE division; sqrt is correctly rounded in
    both engines), which the oracle recomputes in SQL from the same text
    bytes — the audio sibling of multimodal_decode. Feature scalarized to
    (media_id, n_bytes, idx, value) rows for the driver canonicalizer."""
    import struct

    header = (b"RIFF" + (100).to_bytes(4, "little") + b"WAVE"
              + b"fmt " + (16).to_bytes(4, "little")
              + struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
              + b"data" + (64).to_bytes(4, "little"))
    docs = _t(spark, sf_dir, "documents").filter(
        (F.length("text") >= 64)
        # ASCII prefix required explicitly — see q_multimodal_decode
        & (F.octet_length(F.substring("text", 1, 64)) == 64))
    payload = F.concat(F.lit(header),
                       F.substring(F.col("text"), 1, 64).cast("binary"))
    media = mm.attach_media(docs, "doc_id", payload, kind="audio", fmt="wav")
    feats = mm.extract_features(media, fake=False)
    return (feats.select("media_id", "n_bytes",
                         F.posexplode("feature").alias("idx", "value"))
            .select("media_id", "n_bytes",
                    F.col("idx").cast("long").alias("idx"), "value"))


def _audio_lookup_oracle() -> str:
    """DuckDB replay of q_audio_lookup: WAV encode/decode is lossless
    identity on LE int16 (sample j = byte(2j+1) + 256·byte(2j+2), always
    positive for ASCII), so samples come straight from the text — the
    track stream (128 samples) and the probe snippet (offset 32 bytes,
    112 samples) UNIONed with a side flag through ONE shared pipeline:
    8-sample frames → 1-D fixed-point DCT (the phash_dct_table_sym
    basis) → per-frame dominant band (row_number over |coef| DESC, u)
    and Σ|AC| energy → strict interior peaks via LAG/LEAD → peak-pair
    landmark hashes → the index-side frequency cap as a HAVING → offset
    votes → the ranked best row per probe. Pure BIGINT throughout."""
    from bqetl_spark.functions.multimodal import phash_dct_table_sym

    ctab = phash_dct_table_sym(15)
    ct_rows = ", ".join(f"({u},{x},CAST({ctab[u][x]} AS BIGINT))"
                        for u in range(8) for x in range(8))
    return f"""
    WITH d AS (
      SELECT doc_id, substr(text, 1, 256) AS pfx FROM documents
      WHERE length(text) >= 256
        AND octet_length(encode(substr(text, 1, 256))) = 256
    ), ct(u, x, c) AS (VALUES {ct_rows}),
    smp AS (
      SELECT 0 AS side, doc_id, j.j // 8 AS f, j.j % 8 AS x,
             CAST(ord(substr(pfx, CAST(2*j.j + 1 AS INT), 1))
                + 256 * ord(substr(pfx, CAST(2*j.j + 2 AS INT), 1))
               AS BIGINT) AS s
      FROM d, range(0, 128) j(j)
      UNION ALL
      SELECT 1, doc_id, j.j // 8, j.j % 8,
             CAST(ord(substr(pfx, CAST(32 + 2*j.j + 1 AS INT), 1))
                + 256 * ord(substr(pfx, CAST(32 + 2*j.j + 2 AS INT), 1))
               AS BIGINT)
      FROM d, range(0, 112) j(j) WHERE doc_id % 7 = 0
    ), coef AS (
      SELECT side, doc_id, f, ct.u AS u, SUM(ct.c * s) AS val
      FROM smp JOIN ct ON ct.x = smp.x
      GROUP BY side, doc_id, f, ct.u
    ), fr AS (
      SELECT side, doc_id, f, SUM(abs(val)) AS energy
      FROM coef WHERE u >= 1 GROUP BY side, doc_id, f
    ), bnd AS (
      SELECT side, doc_id, f, u AS band FROM (
        SELECT side, doc_id, f, u,
               row_number() OVER (PARTITION BY side, doc_id, f
                                  ORDER BY abs(val) DESC, u) AS rk
        FROM coef WHERE u >= 1) WHERE rk = 1
    ), pk AS (
      SELECT side, doc_id, f, band FROM (
        SELECT fr.side, fr.doc_id, fr.f, bnd.band, fr.energy,
               LAG(fr.energy) OVER w AS ep, LEAD(fr.energy) OVER w AS en
        FROM fr JOIN bnd USING (side, doc_id, f)
        WINDOW w AS (PARTITION BY fr.side, fr.doc_id ORDER BY fr.f))
      WHERE ep IS NOT NULL AND en IS NOT NULL
        AND energy > ep AND energy > en
    ), lm AS (
      SELECT a.side, a.doc_id, a.f AS f1,
             a.band * 512 + b.band * 64 + (b.f - a.f) AS lhash
      FROM pk a JOIN pk b ON a.side = b.side AND a.doc_id = b.doc_id
       AND b.f > a.f AND b.f - a.f <= 15
    ), okh AS (
      SELECT lhash FROM lm WHERE side = 0
      GROUP BY lhash HAVING count(*) <= 1024
    ), votes AS (
      SELECT p.doc_id AS probe_id, i.doc_id AS track_id,
             i.f1 - p.f1 AS foffset, count(*) AS votes
      FROM lm p JOIN okh USING (lhash)
      JOIN lm i ON i.lhash = p.lhash AND i.side = 0
      WHERE p.side = 1
      GROUP BY p.doc_id, i.doc_id, i.f1 - p.f1
    ), best AS (
      SELECT probe_id, track_id, foffset, votes,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY votes DESC, track_id, foffset)
               AS rk
      FROM votes WHERE votes >= 3
    )
    SELECT probe_id, track_id, foffset, votes FROM best WHERE rk = 1"""


_AUDIO_LOOKUP_ORACLE = _audio_lookup_oracle()


@gate(oracle=_AUDIO_LOOKUP_ORACLE)
def q_audio_lookup(spark, sf_dir):
    """Shazam-style content-ID lookup (r12): each document's first 256
    ASCII bytes become 128 LE int16 PCM samples of a mono WAV — the
    TRACK corpus, decoded by the REAL RIFF parser and indexed by
    constellation landmarks (multimodal.audio_landmarks: 8-sample
    frames → 8-point fixed-point DCT → dominant-bin band + Σ|AC|
    energy per frame → strict interior energy peaks → peak-pair hashes
    band1·512+band2·64+dt). Every 7th document also yields a PROBE —
    the SAME audio cut at a 32-byte offset (bytes 33..256, so probe
    frame f is track frame f+2) — matched by offset voting
    (multimodal.audio_lookup): landmark hash join, votes pile on the
    true (track, +2) offset while chance collisions scatter; hot index
    hashes above max_hash_freq are dropped before the join (probes
    never are). Output: best (probe_id, track_id, foffset, votes) per
    probe, votes ≥ 3, deterministic tie-break. All-integer end to end —
    the oracle replays samples → DCT → argmax/abs-sum → LAG/LEAD peaks
    → pair hashes → the frequency cap → offset votes → the ranked
    best row, pure BIGINT.

    Scale: index build is a map-only scan; lookup is an lhash equi-join
    + one groupBy — the inverted-index posture that serves petabyte
    audio catalogs (widen the hash space, same machinery)."""
    docs = _t(spark, sf_dir, "documents").filter(
        (F.length("text") >= 256)
        # ASCII prefix required explicitly — see q_multimodal_decode
        & (F.octet_length(F.substring("text", 1, 256)) == 256))
    track_payload = F.concat(
        F.lit(_wav_header(256)),
        F.substring(F.col("text"), 1, 256).cast("binary"))
    tracks = mm.attach_media(docs, "doc_id", track_payload,
                             kind="audio", fmt="wav")
    probe_docs = docs.filter(F.col("doc_id") % 7 == 0)
    probe_payload = F.concat(
        F.lit(_wav_header(224)),
        F.substring(F.col("text"), 33, 224).cast("binary"))
    probes = mm.attach_media(probe_docs, "doc_id", probe_payload,
                             kind="audio", fmt="wav")
    # pin: audio_lookup consumes the index TWICE (hot-hash occupancy
    # count + the vote join) — without the pin the WAV-decode+DCT
    # landmark UDF would run once per consumer (the phash_neardup
    # precedent)
    from bqetl_spark.caching import pin

    idx = pin(mm.audio_landmarks(tracks))
    plm = (mm.audio_landmarks(probes)
           .select(F.col("media_id").alias("probe_id"), "f1", "lhash"))
    return mm.audio_lookup(plm, idx, min_votes=3, max_hash_freq=1024)


# multimodal_resize: the 2x2 nearest-neighbor sample of the 4x3 image
# picks source pixels {0,2,4,6} (floor(dst*src/dst) per axis); the
# oracle reads those pixels' bytes straight out of the text
@gate(oracle="""
        WITH d AS (
          SELECT doc_id, substr(text, 1, 36) AS s
          FROM documents WHERE len(text) >= 36
                AND octet_length(encode(substr(text, 1, 36))) = 36
        ), b AS (
          SELECT doc_id, p.p, c.c,
                 ord(substr(s, 3 * p.p + c.c + 1, 1)) AS v
          FROM d, (SELECT unnest([0, 2, 4, 6]) AS p) p,
               (SELECT unnest([0, 1, 2]) AS c) c
        ), px AS (
          SELECT doc_id, p, sum(v) AS psum FROM b GROUP BY doc_id, p
        ), ch AS (
          SELECT doc_id,
                 sum(CASE WHEN c = 0 THEN v END) AS sr,
                 sum(CASE WHEN c = 1 THEN v END) AS sg,
                 sum(CASE WHEN c = 2 THEN v END) AS sb,
                 sum(v) AS st
          FROM b GROUP BY doc_id
        ), lm AS (
          SELECT doc_id, min(psum) AS mn, max(psum) AS mx
          FROM px GROUP BY doc_id
        ), feat AS (
          SELECT ch.doc_id AS media_id, CAST(23 AS BIGINT) AS n_bytes,
                 [2.0, 2.0,
                  CAST(sr AS DOUBLE) / 4.0, CAST(sg AS DOUBLE) / 4.0,
                  CAST(sb AS DOUBLE) / 4.0,
                  CAST(mn AS DOUBLE) / 3.0, CAST(mx AS DOUBLE) / 3.0,
                  CAST(st AS DOUBLE) / 12.0] AS feature
          FROM ch JOIN lm ON ch.doc_id = lm.doc_id)
        SELECT media_id, n_bytes, unnest(range(8)) AS idx,
               unnest(feature) AS value
        FROM feat""")
def q_multimodal_resize(spark, sf_dir):
    """REAL image pipeline in the gate: 4×3 PPM built from document bytes
    → real nearest-neighbor resize to 2×2 (resize_images fake=False:
    src = floor(dst·src_extent/dst_extent), integer index math) → real
    decode + integer-exact features. The oracle samples the SAME source
    pixels straight from the text bytes, so the hash-match certifies the
    decode→resample→re-encode→decode chain end to end. Feature scalarized
    to (media_id, n_bytes, idx, value) rows for the driver canonicalizer."""
    docs = _t(spark, sf_dir, "documents").filter(
        (F.length("text") >= 36)
        # ASCII prefix required EXPLICITLY (ADVICE r6): the payload is a
        # byte slice while the oracle reads per-character ord(); equal
        # char/byte counts pin the prefix to 1-byte codepoints, making
        # the gate data-independent instead of relying on the corpus
        # happening to be ASCII
        & (F.octet_length(F.substring("text", 1, 36)) == 36))
    payload = F.concat(F.lit("P6\n4 3\n255\n").cast("binary"),
                       F.substring(F.col("text"), 1, 36).cast("binary"))
    media = mm.attach_media(docs, "doc_id", payload, kind="image", fmt="ppm")
    resized = mm.resize_images(media, 2, 2, fake=False)
    feats = mm.extract_features(resized, fake=False)
    return (feats.select("media_id", "n_bytes",
                         F.posexplode("feature").alias("idx", "value"))
            .select("media_id", "n_bytes",
                    F.col("idx").cast("long").alias("idx"), "value"))


# multimodal_frames: frame k occupies text bytes 36k+1..36k+36; the
# sampler keeps frames 0 and 2 (every_n=2 of 3 frames)
@gate(oracle="""
        WITH d AS (
          SELECT doc_id, text FROM documents WHERE len(text) >= 108
        ), b AS (
          SELECT doc_id, f.f AS frame_idx, p.p,
                 ord(substr(text, 36 * f.f + p.p, 1)) AS v,
                 (p.p - 1) % 3 AS c, (p.p - 1) // 3 AS q
          FROM d, (SELECT unnest([0, 2]) AS f) f,
               (SELECT unnest(range(1, 37)) AS p) p
        ), px AS (
          SELECT doc_id, frame_idx, q, sum(v) AS psum
          FROM b GROUP BY doc_id, frame_idx, q
        ), ch AS (
          SELECT doc_id, frame_idx,
                 sum(CASE WHEN c = 0 THEN v END) AS sr,
                 sum(CASE WHEN c = 1 THEN v END) AS sg,
                 sum(CASE WHEN c = 2 THEN v END) AS sb,
                 sum(v) AS st
          FROM b GROUP BY doc_id, frame_idx
        ), lm AS (
          SELECT doc_id, frame_idx, min(psum) AS mn, max(psum) AS mx
          FROM px GROUP BY doc_id, frame_idx
        ), feat AS (
          SELECT ch.doc_id AS media_id,
                 CAST(ch.frame_idx AS BIGINT) AS frame_idx,
                 CAST(47 AS BIGINT) AS n_bytes,
                 [4.0, 3.0,
                  CAST(sr AS DOUBLE) / 12.0, CAST(sg AS DOUBLE) / 12.0,
                  CAST(sb AS DOUBLE) / 12.0,
                  CAST(mn AS DOUBLE) / 3.0, CAST(mx AS DOUBLE) / 3.0,
                  CAST(st AS DOUBLE) / 36.0] AS feature
          FROM ch JOIN lm ON ch.doc_id = lm.doc_id
                          AND ch.frame_idx = lm.frame_idx)
        SELECT media_id, frame_idx, n_bytes, unnest(range(8)) AS idx,
               unnest(feature) AS value
        FROM feat""")
def q_multimodal_frames(spark, sf_dir):
    """REAL frame sampling in the gate: three 4×3 PPM frames concatenated
    into one payload (the ffmpeg image2pipe ppm-stream convention), every
    2nd frame sampled and feature-extracted for real
    (multimodal.sample_frames). The oracle reads frames 0 and 2's pixels
    straight from the text bytes — certifying the stream splitter walks
    variable-length headers and exact pixel extents correctly. Feature
    scalarized to (media_id, frame_idx, n_bytes, idx, value) rows for the
    driver canonicalizer."""
    docs = _t(spark, sf_dir, "documents").filter(F.length("text") >= 108)
    frame = lambda k: F.concat(
        F.lit("P6\n4 3\n255\n").cast("binary"),
        F.substring(F.col("text"), 36 * k + 1, 36).cast("binary"))
    payload = F.concat(frame(0), frame(1), frame(2))
    media = mm.attach_media(docs, "doc_id", payload, kind="video",
                            fmt="ppms")
    return (mm.sample_frames(media, every_n=2)
            .select("media_id", "frame_idx", "n_bytes",
                    F.posexplode("feature").alias("idx", "value"))
            .select("media_id", "frame_idx", "n_bytes",
                    F.col("idx").cast("long").alias("idx"), "value"))


def _video_ph_ctes() -> str:
    """Shared CTE prefix for the video-fingerprint oracles: 3 frames
    per doc, frame f's pixel (y,x) luma = the 3 bytes at 1-based text
    positions 96·f + 3·(8y+x) + {1,2,3} (P6 is row-major RGB; frames
    are overlapping 192-byte windows at stride 96), then per-
    (doc,frame) the SAME fixed-point DCT / order-statistic median /
    63-bit pack as _phash_oracle — ending at ``ph(doc_id, fidx,
    phash)``. video_neardup/stream_video append the self-join pairing;
    video_frame_lookup appends the probe-vs-index lookup."""
    from bqetl_spark.functions.multimodal import phash_dct_table

    ctab = phash_dct_table(15)
    ct_rows = ", ".join(f"({u},{x},CAST({ctab[u][x]} AS BIGINT))"
                        for u in range(8) for x in range(8))
    return f"""d AS (
      SELECT doc_id, substr(text, 1, 384) AS pfx FROM documents
      WHERE length(text) >= 384
        AND octet_length(encode(substr(text, 1, 384))) = 384
    ), ct(u, x, c) AS (VALUES {ct_rows}),
    pix AS (
      SELECT doc_id, f.f AS fidx, (i-1)//8 AS y, (i-1)%8 AS x,
             CAST(ord(substr(pfx, CAST(96*f.f + 3*(i-1) + 1 AS INT), 1))
                + ord(substr(pfx, CAST(96*f.f + 3*(i-1) + 2 AS INT), 1))
                + ord(substr(pfx, CAST(96*f.f + 3*(i-1) + 3 AS INT), 1))
               AS BIGINT) AS p
      FROM d, range(0, 3) f(f), range(1, 65) t(i)
    ), coef AS (
      SELECT doc_id, fidx, cu.u AS u, cv.u AS v,
             SUM(cu.c * cv.c * p) AS val
      FROM pix JOIN ct cu ON cu.x = pix.y JOIN ct cv ON cv.x = pix.x
      GROUP BY doc_id, fidx, cu.u, cv.u
    ), ac AS (
      SELECT doc_id, fidx, u*8 + v - 1 AS i, val,
             row_number() OVER (PARTITION BY doc_id, fidx
                                ORDER BY val, u*8 + v) AS rk
      FROM coef WHERE NOT (u = 0 AND v = 0)
    ), med AS (
      SELECT doc_id, fidx, val AS m FROM ac WHERE rk = 32
    ), ph AS (
      SELECT ac.doc_id, ac.fidx,
             SUM(CASE WHEN ac.val > med.m
                 THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
                 ELSE CAST(0 AS BIGINT) END) AS phash
      FROM ac JOIN med USING (doc_id, fidx) GROUP BY ac.doc_id, ac.fidx
    )"""


def _video_phash_oracle() -> str:
    """video_neardup replay: the shared frame-hash CTEs + 9×7 banding
    with the bucket cap counted over FRAMES, Hamming verify ≤ 8, and
    the video-level aggregation (count + min, HAVING ≥ 2)."""
    return f"""
    WITH {_video_ph_ctes()}, bands AS (
      SELECT doc_id, fidx, j,
             (phash >> CAST(7*j AS INT)) & 127 AS bv, phash
      FROM ph, range(0, 9) r(j)
    ), ok AS (
      SELECT j, bv FROM bands GROUP BY j, bv HAVING count(*) <= 64
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, a.fidx AS fa,
             b.doc_id AS id_b, b.fidx AS fb,
             a.phash AS pa, b.phash AS pb
      FROM bands a JOIN ok USING (j, bv)
      JOIN bands b ON a.j = b.j AND a.bv = b.bv
                  AND a.doc_id < b.doc_id
    ), fp AS (
      SELECT id_a, id_b, bit_count(xor(pa, pb)) AS h
      FROM cand WHERE bit_count(xor(pa, pb)) <= 8
    )
    SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_frame_matches,
           CAST(min(h) AS BIGINT) AS min_hamming
    FROM fp GROUP BY id_a, id_b HAVING count(*) >= 2"""


_VIDEO_NEARDUP_ORACLE = _video_phash_oracle()


@gate(oracle=_VIDEO_NEARDUP_ORACLE)
def q_video_neardup(spark, sf_dir):
    """Video near-dup pairs (multimodal.video_neardup, r12) — the last
    cell of the per-modality dedup grid. Each qualifying document
    becomes a 3-frame concatenated-P6 video (the q_multimodal_frames
    stream convention) of 8×8 frames built from OVERLAPPING 192-byte
    windows at stride 96 — consecutive frames share half their bytes,
    the temporal continuity a real clip has. The engine REALLY walks
    the P6 headers per frame and DCT-hashes each frame (image_phash's
    integer-exact recipe); frame pairs come from the 9×7-bit Hamming
    bands (pigeonhole recall 1.0 at h ≤ 8) with the bucket cap, and
    videos pair on ≥ 2 matching frame pairs. The oracle replays frame
    slicing, luma, DCT, median, packing, banding, cap, verify and the
    video-level aggregation from the same text bytes — all BIGINT.
    ASCII prefix pinned explicitly (byte slice vs per-char ord)."""
    docs = _t(spark, sf_dir, "documents").filter(
        (F.length("text") >= 384)
        & (F.octet_length(F.substring("text", 1, 384)) == 384))
    frame = lambda k: F.concat(
        F.lit("P6\n8 8\n255\n").cast("binary"),
        F.substring(F.col("text"), 96 * k + 1, 192).cast("binary"))
    payload = F.concat(frame(0), frame(1), frame(2))
    media = mm.attach_media(docs, "doc_id", payload, kind="video",
                            fmt="ppms")
    return mm.video_neardup(media, max_hamming=8, max_bucket_size=64,
                            min_frame_matches=2)


def _video_lookup_oracle() -> str:
    """video_frame_lookup replay: the shared frame-hash CTEs + the
    probe set (every 20th qualifying doc's FIRST frame — which is
    byte-identical to the standalone 8×8 P6 probe image the gate
    hashes through image_phash, so ph at fidx=0 IS the probe hash) +
    the asymmetric banded lookup with the bucket cap counted over
    INDEX frames only."""
    return f"""
    WITH {_video_ph_ctes()}, probes AS (
      SELECT doc_id AS probe_id, phash AS pp FROM ph
      WHERE fidx = 0 AND doc_id % 20 = 0
    ), ibands AS (
      SELECT doc_id, fidx, j,
             (phash >> CAST(7*j AS INT)) & 127 AS bv, phash
      FROM ph, range(0, 9) r(j)
    ), ok AS (
      SELECT j, bv FROM ibands GROUP BY j, bv HAVING count(*) <= 64
    ), pbands AS (
      SELECT probe_id, j, (pp >> CAST(7*j AS INT)) & 127 AS bv, pp
      FROM probes, range(0, 9) r(j)
    ), cand AS (
      SELECT DISTINCT p.probe_id, i.doc_id AS video_id, i.fidx,
             i.phash, p.pp
      FROM ibands i JOIN ok USING (j, bv)
      JOIN pbands p ON i.j = p.j AND i.bv = p.bv
    )
    SELECT probe_id, video_id, CAST(fidx AS BIGINT) AS frame_idx,
           bit_count(xor(phash, pp)) AS hamming
    FROM cand WHERE bit_count(xor(phash, pp)) <= 8"""


@gate(oracle=_video_lookup_oracle())
def q_video_frame_lookup(spark, sf_dir):
    """Image→video content lookup (multimodal.phash_lookup, r12) — the
    Content-ID query shape: every 20th qualifying document's 8×8 P6
    probe IMAGE (its first 192 text bytes — byte-identical to frame 0
    of its own video) is hashed through the IMAGE path (image_phash,
    ppm decoder) and looked up against the VIDEO frame-hash index of
    the whole corpus via the asymmetric banded join. Certifies two
    things at once: the image and video hash paths agree bit-for-bit
    on the same pixels (every probe must find its own frame 0 at
    hamming 0), and the probe-vs-index lookup (bucket cap on the index
    side only — probes are queries, never dropped). Output
    (probe_id, video_id, frame_idx, hamming); self-matches included —
    they ARE the content-ID sanity row."""
    docs = _t(spark, sf_dir, "documents").filter(
        (F.length("text") >= 384)
        & (F.octet_length(F.substring("text", 1, 384)) == 384))
    frame = lambda k: F.concat(
        F.lit("P6\n8 8\n255\n").cast("binary"),
        F.substring(F.col("text"), 96 * k + 1, 192).cast("binary"))
    videos = mm.attach_media(docs, "doc_id",
                             F.concat(frame(0), frame(1), frame(2)),
                             kind="video", fmt="ppms")
    index = mm.video_frame_phash(videos)
    probe_docs = docs.filter(F.pmod(F.col("doc_id"), F.lit(20)) == 0)
    probe_media = mm.attach_media(probe_docs, "doc_id", frame(0),
                                  kind="image", fmt="ppm")
    probes = (mm.image_phash(probe_media)
              .select(F.col("media_id").alias("probe_id"), "phash"))
    return (mm.phash_lookup(probes, index, max_hamming=8,
                            max_bucket_size=64)
            .select("probe_id", F.col("media_id").alias("video_id"),
                    "frame_idx", "hamming"))
