"""Structured Streaming gates: bounded availableNow replays of the
events (and media) tables through watermarks, state stores and
foreachBatch sinks, each oracled against the equivalent batch SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bqetl_spark.caching import ckpt
from bqetl_spark.functions import multimodal as mm
from bqetl_spark.functions import sketch as sk

from bqetl_spark.gates import gate
from bqetl_spark.gates.common import _scratch, _t, _wav_header
from bqetl_spark.gates.multimodal import (_AUDIO_LOOKUP_ORACLE, _PHASH_ORACLE,
                                          _VIDEO_NEARDUP_ORACLE)
from bqetl_spark.gates.relational import _SESSION_WINDOW_ORACLE
from bqetl_spark.gates.sketch import _QUANTILE_INCREMENTAL_ORACLE


_STREAM_SEQ = [0]  # unique memory-sink names: the driver may rerun a query


def _run_stream_to_table(stream_df, mode: str) -> DataFrame:
    """Run a bounded availableNow replay of a streaming DataFrame through a
    memory sink and return the collected result as a batch DataFrame.

    This is the driver-gate adapter for Structured Streaming: the exact
    pipeline a production job would run against Kafka (watermark + windowed
    state), exercised on the file source so it terminates and can be
    oracled against batch SQL over the same data. The rows are copied into
    a tracked checkpoint (freed by ``release_pinned()``); the sink's view
    and the stream's checkpoint dir are removed before returning, since
    the sink holds its rows in driver memory for as long as the view
    exists."""
    import shutil
    import tempfile

    spark = stream_df.sparkSession
    # Stateful operators allocate one state store per shuffle partition per
    # micro-batch; an untuned session's 200 partitions turn a bounded replay
    # of a small table into minutes of state-store churn. The partition
    # count is pinned at the stream's first checkpoint anyway (it can never
    # adapt later), so choose it deliberately — parallelism-sized, not
    # default-sized — and restore the session conf afterwards.
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(spark.sparkContext.defaultParallelism))
    _STREAM_SEQ[0] += 1
    name = f"__stream_gate_{_STREAM_SEQ[0]}"
    state = tempfile.mkdtemp(prefix="bqetl_ckpt_")
    try:
        (stream_df.writeStream.outputMode(mode)
         .format("memory").queryName(name)
         .option("checkpointLocation", state)
         .trigger(availableNow=True)
         .start().awaitTermination())
        return ckpt(spark.table(name))
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
        spark.catalog.dropTempView(name)
        shutil.rmtree(state, ignore_errors=True)


# streaming queries oracle against plain batch SQL over the same
# bounded data: the availableNow replay must converge to it
@gate(oracle="""
            SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS hour_epoch,
                   event_type,
                   count(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2""")
def q_stream_events_hourly(spark, sf_dir):
    """Streaming twin of events_hourly: readStream(events parquet) →
    watermark → 1h tumbling window counts/sums (streaming/events.py),
    replayed bounded with availableNow. Complete output mode emits every
    window at the final micro-batch, so the result equals the batch
    group-by — decimal partial sums make it bit-identical."""
    from bqetl_spark.streaming.events import stream_event_counts

    agg = stream_event_counts(spark, f"{sf_dir.rstrip('/')}/events.parquet")
    out = _run_stream_to_table(agg, "complete")
    return out.select(
        F.unix_timestamp("window_start").alias("hour_epoch"),
        "event_type", "n_events", "sum_value")


@gate(oracle="""
            SELECT c.user_id,
                   c.event_id AS click_id,
                   p.event_id AS purchase_id
            FROM events c JOIN events p
              ON c.user_id = p.user_id
             AND epoch_us(p.ts) >= epoch_us(c.ts)
             AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000
            WHERE c.event_type = 'click' AND p.event_type = 'purchase'""")
def q_stream_click_to_purchase(spark, sf_dir):
    """Watermarked stream-stream inner join (streaming/events.py): every
    (click, purchase) by the same user with the purchase within 1 hour at
    or after the click. Append mode — inner-join matches emit as found;
    the watermark only bounds state retention, so the bounded replay
    produces exactly the batch join."""
    from bqetl_spark.streaming.events import stream_click_to_purchase

    joined = stream_click_to_purchase(spark, f"{sf_dir.rstrip('/')}/events.parquet")
    return _run_stream_to_table(joined, "append")


@gate(oracle="SELECT event_id FROM events")
def q_stream_dedup(spark, sf_dir):
    """Watermarked streaming dedup (dropDuplicatesWithinWatermark) replayed
    bounded: event_id is unique in the corpus, so the correctness property
    the oracle pins is no-false-positive — the state-store path must emit
    every id exactly once, dropping nothing."""
    from bqetl_spark.streaming.events import stream_dedup_events

    deduped = stream_dedup_events(spark, f"{sf_dir.rstrip('/')}/events.parquet")
    return _run_stream_to_table(deduped.select("event_id"), "append")


# stateful-streaming final snapshots == batch group-by (integer-exact)
@gate(oracle="""
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id""")
def q_stream_user_totals(spark, sf_dir):
    """Custom stateful streaming operator (applyInPandasWithState,
    streaming/stateful.py): per-user running (count, sum) snapshots in
    update mode, replayed bounded. The driver result takes each user's
    FINAL snapshot (running counts are monotone, so max n_events per user),
    which must equal the batch group-by — an exact integer oracle for the
    state-store path. sum_value stays out of the contract (per-batch pandas
    summation order is engine-specific); it is pinned in
    tests/test_streaming_stateful.py instead."""
    from bqetl_spark.streaming.stateful import stream_user_totals

    snap = stream_user_totals(spark, f"{sf_dir.rstrip('/')}/events.parquet")
    out = _run_stream_to_table(snap, "update")
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (out.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") == 1)
            .select("user_id", "n_events"))


# stateful sessionization: final snapshots == batch lag-window rule
@gate(oracle="""
        SELECT user_id,
               CAST(SUM(CASE WHEN prev_us IS NULL
                             OR us - prev_us > 1800000000
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
        FROM (
            SELECT user_id, epoch_us(ts) AS us,
                   lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) AS prev_us
            FROM events)
        GROUP BY user_id""")
def q_stream_sessionize(spark, sf_dir):
    """Second custom stateful operator (applyInPandasWithState): per-user
    session counts with a 30-minute gap rule and fixed-width cross-batch
    state (last_event_us, n). Final snapshot per user (counts are
    monotone → max) must equal the batch lag-window definition — an
    integer-exact oracle for gap sessionization through the state store."""
    from bqetl_spark.streaming.stateful import stream_session_counts

    snap = stream_session_counts(spark, f"{sf_dir.rstrip('/')}/events.parquet")
    out = _run_stream_to_table(snap, "update")
    w = Window.partitionBy("user_id").orderBy(F.desc("n_sessions"))
    return (out.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") == 1)
            .select("user_id", "n_sessions"))


# streaming session windows must equal the batch islands rule — same
# oracle (bounded availableNow replay, complete output mode)
@gate(oracle=_SESSION_WINDOW_ORACLE)
def q_stream_session_window(spark, sf_dir):
    """Native streaming sessionization (F.session_window through the state
    store, streaming/events.py) replayed bounded with availableNow in
    complete mode — must equal the batch islands rule exactly (same
    oracle as the batch `session_window` gate). Covers the built-in
    session operator alongside the hand-rolled applyInPandasWithState
    one (stream_sessionize)."""
    from bqetl_spark.streaming.events import stream_session_windows

    sess = stream_session_windows(spark, f"{sf_dir.rstrip('/')}/events.parquet")
    return _run_stream_to_table(sess, "complete")


@gate(oracle="""
        SELECT event_id, user_id, c_mktsegment
        FROM events JOIN customer ON user_id = c_custkey""")
def q_stream_static_join(spark, sf_dir):
    """Stream-static join (streaming/events.py stream_static_enrich):
    the event stream enriched with the static customer dimension
    (broadcast, stateless, dim re-planned per micro-batch — the
    production lookup shape). Bounded availableNow replay; oracle is the
    plain batch join."""
    from bqetl_spark.streaming.events import stream_static_enrich

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = stream_static_enrich(spark, f"{sf_dir.rstrip('/')}/events.parquet",
                             cust, "user_id", "c_custkey")
    out = _run_stream_to_table(
        j.select("event_id", "user_id", "c_mktsegment"), "append")
    return out


# foreachBatch merge sink: stored table must equal the batch group-by
@gate(oracle="""
        SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id""")
def q_stream_upsert(spark, sf_dir):
    """foreachBatch streaming sink (streaming/events.py
    stream_upsert_user_totals): per-user totals MERGEd into a stored
    parquet target once per micro-batch — the pattern for sinks
    Structured Streaming can't write natively. The gate reads the final
    stored table; oracle = the batch group-by (integer-exact)."""
    from bqetl_spark.streaming.events import stream_upsert_user_totals

    target = _scratch("upsert", sf_dir, wipe=True) + "/user_totals"
    stream_upsert_user_totals(
        spark, f"{sf_dir.rstrip('/')}/events.parquet", target)
    return spark.read.parquet(target)


# streaming KMV fold == plain batch KMV (merge losslessness through
# foreachBatch); user_id hashes via md5 of the decimal string, k=64.
# NULL user_ids are excluded on both sides (COUNT DISTINCT semantics —
# kmv_sketch filters NULL hashes before the Arrow pass).
@gate(oracle="""
        WITH h AS (
            SELECT DISTINCT event_type,
                   ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                     ::BIGINT AS hv
            FROM events WHERE user_id IS NOT NULL),
        r AS (
            SELECT event_type, hv,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY hv) AS rn
            FROM h)
        SELECT event_type,
               CAST(CASE WHEN max(rn) < 64 THEN max(rn)
                    ELSE floor(63.0 * 1152921504606846976
                               / max(CASE WHEN rn = 64 THEN hv END))
                    END AS BIGINT) AS est_distinct,
               CASE WHEN max(rn) < 64 THEN NULL
                    ELSE max(CASE WHEN rn = 64 THEN hv END)
                    END AS kth_hash
        FROM r GROUP BY event_type""")
def q_stream_kmv(spark, sf_dir):
    """Streaming KMV sketch maintenance (streaming/events.py
    stream_kmv_user_distinct, k=64): events are chopped into 4 files so
    the availableNow replay folds 4 REAL micro-batches into the persisted
    per-event_type sketch of distinct user_ids; the gate estimates from
    the final stored sketch. Oracle = the plain batch KMV SQL — the
    hash-match proves the streaming fold is lossless for any batch chop
    (the kmv_merge property, now exercised through foreachBatch)."""
    from bqetl_spark.functions.sketch import kmv_estimate
    from bqetl_spark.streaming.events import stream_kmv_user_distinct

    base = _scratch("skmv", sf_dir, wipe=True)
    ev = _t(spark, sf_dir, "events").select("event_type", "user_id", "ts")
    ev.repartition(4).write.parquet(base + "/events_split")
    target = base + "/sketch"
    stream_kmv_user_distinct(spark, base + "/events_split", target, k=64)
    return kmv_estimate(spark.read.parquet(target), "event_type", 64)


# stream_phash (r11): streaming fold must equal the batch pair set
@gate(oracle=_PHASH_ORACLE)
def q_stream_phash(spark, sf_dir):
    """Streaming perceptual-hash index maintenance (streaming/media.py
    stream_phash_index, r11): the TIFF media table is chopped into 4
    parquet files so the availableNow replay folds 4 REAL micro-batches
    — each decoded + DCT-hashed exactly once — into the persisted
    (media_id, phash) index; the gate then pair-queries the STORED
    index with phash_band_pairs. Oracle = the plain batch pHash pair
    SQL: the hash-match proves hash-on-ingest + index-query equals the
    one-shot batch computation for any chop (pHash is payload-pure and
    the media_id dedup makes restart replays no-ops). Completes the
    streaming×multimodal composition the way stream_kmv did
    streaming×sketch."""
    from bqetl_spark.streaming.media import stream_phash_index

    base = _scratch("sphash", sf_dir, wipe=True)
    docs = _t(spark, sf_dir, "documents").filter(
        (F.length("text") >= 64)
        & (F.octet_length(F.substring("text", 1, 64)) == 64))
    media = mm.attach_tiff_media(docs, "doc_id", "text", 8, 8,
                                 rows_per_strip=2)
    media.repartition(4).write.mode("overwrite") \
        .parquet(base + "/media_split")
    target = base + "/index"
    stream_phash_index(spark, base + "/media_split", target)
    return mm.phash_band_pairs(spark.read.parquet(target),
                               max_hamming=8, max_bucket_size=64)


# stream_video (r12): chop-invariance makes the streaming index
# equal the one-shot batch computation, so it shares video_neardup's
# oracle verbatim (the stream_phash precedent)
@gate(oracle=_VIDEO_NEARDUP_ORACLE)
def q_stream_video(spark, sf_dir):
    """Streaming video-fingerprint index maintenance (streaming/media.py
    stream_video_index, r12): the 3-frame ppms media table (the
    q_video_neardup construction) is chopped into 4 parquet files so
    the availableNow replay folds 4 REAL micro-batches — each clip's
    frames split + DCT-hashed exactly once — into the persisted
    (media_id, frame_idx, phash) index; the gate then pair-queries the
    STORED index with video_pairs_from_index. Oracle = the plain batch
    video_neardup SQL: the hash-match proves hash-on-ingest +
    index-query equals the one-shot batch computation for any chop
    (frame hashes are payload-pure; the (media_id, frame_idx) dedup
    makes restart replays no-ops). Completes per-modality streaming
    index maintenance: image (stream_phash) + video (this)."""
    from bqetl_spark.streaming.media import stream_video_index

    base = _scratch("svideo", sf_dir, wipe=True)
    docs = _t(spark, sf_dir, "documents").filter(
        (F.length("text") >= 384)
        & (F.octet_length(F.substring("text", 1, 384)) == 384))
    frame = lambda k: F.concat(
        F.lit("P6\n8 8\n255\n").cast("binary"),
        F.substring(F.col("text"), 96 * k + 1, 192).cast("binary"))
    payload = F.concat(frame(0), frame(1), frame(2))
    media = mm.attach_media(docs, "doc_id", payload, kind="video",
                            fmt="ppms")
    media.repartition(4).write.mode("overwrite") \
        .parquet(base + "/media_split")
    target = base + "/index"
    stream_video_index(spark, base + "/media_split", target)
    return mm.video_pairs_from_index(spark.read.parquet(target),
                                     max_hamming=8, max_bucket_size=64,
                                     min_frame_matches=2)


@gate(oracle=_AUDIO_LOOKUP_ORACLE)
def q_stream_audio(spark, sf_dir):
    """Streaming audio-landmark index maintenance (streaming/media.py
    stream_audio_index, r12): the 128-sample WAV track corpus (the
    q_audio_lookup construction) is chopped into 4 parquet files so the
    availableNow replay folds 4 REAL micro-batches — each track decoded
    + DCT-framed + peak-paired exactly once — into the persisted
    (media_id, f1, lhash) landmark index; the gate then runs the
    content-ID probe query against the STORED index with audio_lookup.
    Oracle = the plain batch audio_lookup SQL: the hash-match proves
    hash-on-ingest + index-query equals the one-shot batch computation
    for any chop (landmarks are payload-pure; the (media_id, f1, lhash)
    dedup makes restart replays no-ops). Completes per-modality
    streaming index maintenance: image + video + audio."""
    from bqetl_spark.streaming.media import stream_audio_index

    base = _scratch("saudio", sf_dir, wipe=True)
    docs = _t(spark, sf_dir, "documents").filter(
        (F.length("text") >= 256)
        & (F.octet_length(F.substring("text", 1, 256)) == 256))
    track_payload = F.concat(
        F.lit(_wav_header(256)),
        F.substring(F.col("text"), 1, 256).cast("binary"))
    tracks = mm.attach_media(docs, "doc_id", track_payload,
                             kind="audio", fmt="wav")
    tracks.repartition(4).write.mode("overwrite") \
        .parquet(base + "/media_split")
    target = base + "/index"
    stream_audio_index(spark, base + "/media_split", target)
    probe_docs = docs.filter(F.col("doc_id") % 7 == 0)
    probe_payload = F.concat(
        F.lit(_wav_header(224)),
        F.substring(F.col("text"), 33, 224).cast("binary"))
    probes = mm.attach_media(probe_docs, "doc_id", probe_payload,
                             kind="audio", fmt="wav")
    plm = (mm.audio_landmarks(probes)
           .select(F.col("media_id").alias("probe_id"), "f1", "lhash"))
    return mm.audio_lookup(plm, spark.read.parquet(target),
                           min_votes=3, max_hash_freq=1024)


# stream_quantile (r8): same full-data bottom-k oracle — the Spark
# side folds 4 micro-batch sketches through foreachBatch
@gate(oracle=_QUANTILE_INCREMENTAL_ORACLE)
def q_stream_quantile(spark, sf_dir):
    """Streaming quantile-sketch maintenance (streaming/events.py
    stream_quantile_values, r8): events chopped into 4 files replay as
    4 REAL micro-batches, each folding its bottom-k (k=1024) min-hash
    priority sample of event values into the persisted sample; the
    gate estimates p50/p90/p99 from the final stored table. Oracle =
    the plain batch bottom-k SQL (same as quantile_incremental): the
    hash-match proves the streaming fold equals the full-corpus sample
    for any batch chop — min-wise sampling commutes with union, and
    the (hv, v) dedup makes restart replays no-ops."""
    from bqetl_spark.functions.sketch import quantiles_from_sketch
    from bqetl_spark.streaming.events import stream_quantile_values

    base = _scratch("squant", sf_dir, wipe=True)
    ev = _t(spark, sf_dir, "events").select("event_id", "value")
    ev.repartition(4).write.parquet(base + "/events_split")
    target = base + "/sketch"
    stream_quantile_values(spark, base + "/events_split", target, k=1024)
    return quantiles_from_sketch(spark.read.parquet(target),
                                 qs=(0.5, 0.9, 0.99))


# streaming HLL: oracle is the PLAIN BATCH HLL over events — the
# hash-match proves the foreachBatch register-MAX fold is chop-
# invariant (same structure as stream_kmv's oracle)
@gate(oracle=f"""
        WITH h AS (
          SELECT event_type,
                 ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                   ::BIGINT AS hv
          FROM events WHERE user_id IS NOT NULL),
        rr AS (
          SELECT event_type, (hv >> 52)::INT AS bucket,
                 CAST(CASE WHEN (hv & ((1::BIGINT << 52) - 1)) = 0 THEN 53
                      ELSE 53 - length(bin(hv & ((1::BIGINT << 52) - 1)))
                      END AS INT) AS rho
          FROM h),
        reg AS (SELECT event_type, bucket, max(rho) AS max_rho
                FROM rr GROUP BY event_type, bucket),
        agg AS (
          SELECT event_type, CAST(count(*) AS INT) AS n_buckets,
                 sum((1::BIGINT << (53 - max_rho))) AS pow_sum
          FROM reg GROUP BY event_type),
        e AS (
          SELECT event_type, n_buckets,
                 CAST({sk.HLL_RAW_NUM} AS HUGEINT)
                   // (CAST(1000000 AS HUGEINT) *
                       ((256 - n_buckets)::HUGEINT * (1::BIGINT << 53)
                        + pow_sum)) AS raw,
                 (CAST(256 AS BIGINT) *
                  CAST(floor(1000000 * ln(256.0 / (256 - n_buckets)))
                       AS BIGINT)) // 1000000 AS lc
          FROM agg)
        SELECT event_type, n_buckets,
               CAST(CASE WHEN n_buckets < 256 AND raw <= 640
                    THEN lc ELSE raw END AS BIGINT) AS est
        FROM e""")
def q_stream_hll(spark, sf_dir):
    """Streaming HyperLogLog maintenance (streaming/events.py
    stream_hll_user_distinct, r7): events chopped into 4 files replay as
    4 REAL micro-batches, each folding its HLL registers of distinct
    user_ids per event_type into the persisted sketch (register MAX —
    idempotent, so even restart-replays are safe); the gate estimates
    from the final stored table. Oracle = the plain batch HLL SQL: the
    hash-match proves the streaming fold equals the full-corpus sketch
    for any batch chop."""
    from bqetl_spark.functions.sketch import hll_estimate
    from bqetl_spark.streaming.events import stream_hll_user_distinct

    base = _scratch("shll", sf_dir, wipe=True)
    ev = _t(spark, sf_dir, "events").select("event_type", "user_id", "ts")
    ev.repartition(4).write.parquet(base + "/events_split")
    target = base + "/sketch"
    stream_hll_user_distinct(spark, base + "/events_split", target)
    return hll_estimate(spark.read.parquet(target), "event_type")


# streaming CMS: oracle = plain batch grid over the same events
# (counters add, so the chopped fold must equal it exactly)
@gate(oracle="""
        WITH grid AS (
          SELECT d, ('0x' || substr(md5(CAST(d AS VARCHAR) || ':' ||
                                        CAST(user_id AS VARCHAR)),
                                    1, 15))::BIGINT % 128 AS idx,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM events, (SELECT unnest(range(4)) AS d)
          WHERE user_id IS NOT NULL
          GROUP BY 1, 2),
        q AS (SELECT unnest(['0', '1', '5', '42', '999999']) AS value),
        cells AS (
          SELECT q.value, d.d,
                 ('0x' || substr(md5(CAST(d.d AS VARCHAR) || ':' ||
                                     q.value), 1, 15))::BIGINT % 128
                   AS idx
          FROM q, (SELECT unnest(range(4)) AS d) d),
        est AS (
          SELECT c.value, CAST(min(coalesce(g.cnt, 0)) AS BIGINT) AS est
          FROM cells c LEFT JOIN grid g ON c.d = g.d AND c.idx = g.idx
          GROUP BY c.value),
        exact AS (
          SELECT CAST(user_id AS VARCHAR) AS value,
                 CAST(count(*) AS BIGINT) AS exact_cnt
          FROM events GROUP BY user_id)
        SELECT e.value, e.est,
               CAST(coalesce(x.exact_cnt, 0) AS BIGINT) AS exact_cnt
        FROM est e LEFT JOIN exact x USING (value)""")
def q_stream_cms(spark, sf_dir):
    """Streaming count-min maintenance (streaming/events.py
    stream_cms_user_counts, r7): events chopped into 4 files replay as
    4 real micro-batches, each ADDING its CMS grid of per-user event
    counts into the persisted sketch (additive merge — exactly-once
    rests on foreachBatch's checkpointed batch ids, documented); the
    gate estimates a fixed user list from the final stored grid joined
    with the exact counts. Oracle = the plain batch CMS SQL: the
    hash-match proves the streaming fold equals the full-corpus grid
    for any batch chop."""
    from bqetl_spark.functions.sketch import cms_estimate
    from bqetl_spark.streaming.events import stream_cms_user_counts

    base = _scratch("scms", sf_dir, wipe=True)
    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    ev.repartition(4).write.parquet(base + "/events_split")
    target = base + "/sketch"
    stream_cms_user_counts(spark, base + "/events_split", target,
                           width=128, depth=4)
    grid = spark.read.parquet(target)
    users = ["0", "1", "5", "42", "999999"]
    est = cms_estimate(grid, users, width=128, depth=4)
    ev2 = _t(spark, sf_dir, "events")
    exact = (ev2.groupBy(F.col("user_id").cast("string").alias("value"))
             .agg(F.count("*").cast("long").alias("exact_cnt")))
    return (est.join(exact, "value", "left")
            .na.fill(0, ["exact_cnt"]))


# streaming AMS: oracle is the plain batch construction — the
# sketch is linear so any chop folds to the same signed sums
_sams_s = ", ".join(
    f"SUM((1 - 2 * (('0x' || substr(md5('{j}:' || user_id), 1, 1))::INT"
    f" % 2)) * c) AS s{j}" for j in range(40))
_sams_m = ", ".join(
    "(" + " + ".join(f"s{g * 8 + i}::HUGEINT * s{g * 8 + i}"
                     for i in range(8)) + f") // 8 AS m{g}"
    for g in range(5))


@gate(oracle=f"""
        WITH cnt AS (
            SELECT event_type, user_id, count(*) AS c
            FROM events GROUP BY 1, 2),
        agg AS (
            SELECT event_type, SUM(c::HUGEINT * c) AS f2, {_sams_s}
            FROM cnt GROUP BY 1),
        med AS (
            SELECT event_type, f2,
                   list_sort([m0, m1, m2, m3, m4])[3] AS est
            FROM (SELECT event_type, f2, {_sams_m} FROM agg) g)
        SELECT event_type, CAST(est AS BIGINT) AS f2_est,
               CAST(f2 AS BIGINT) AS f2_exact
        FROM med""")
def q_stream_ams(spark, sf_dir):
    """Streaming AMS F₂ maintenance (streaming/events.stream_ams_moment,
    r10): events chopped into 4 files replay as 4 real micro-batches,
    each ADDING its (event_type, j, s) signed-sum sketch of user_id
    into the persisted table (ams_merge — linear, so the fold equals
    the full-corpus sketch for any chop); the gate estimates F₂ per
    event_type from the final stored sketch and joins the exact
    self-join size. Oracle = the plain batch AMS construction in
    HUGEINT: the hash-match certifies the streaming fold end to end.
    Completes the persisted-sketch streaming family
    (KMV/HLL/CMS/quantile/AMS)."""
    from bqetl_spark.streaming.events import stream_ams_moment

    base = _scratch("sams", sf_dir, wipe=True)
    ev = _t(spark, sf_dir, "events").select("event_type", "user_id")
    ev.repartition(4).write.parquet(base + "/events_split")
    target = base + "/sketch"
    stream_ams_moment(spark, base + "/events_split", target)
    est = sk.ams_estimate_f2(spark.read.parquet(target), "event_type")
    exact = (_t(spark, sf_dir, "events")
             .groupBy("event_type", "user_id")
             .agg(F.count("*").alias("__c"))
             .groupBy("event_type")
             .agg(F.sum(F.expr("CAST(__c AS DECIMAL(19,0)) * __c"))
                  .cast("long").alias("f2_exact")))
    return est.join(exact, "event_type")
