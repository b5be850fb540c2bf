"""Structured Streaming over the events table.

The reference is batch-only (SURVEY.md §2.8) — this module is part of the
beyond-parity surface: the same windowed aggregation a production pipeline
would run on a Kafka source, exercised locally with the file source +
availableNow trigger (bounded replay of the parquet events table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bqetl_spark.streaming.stateutil import replace_parquet_state


def stream_dedup_events(spark: SparkSession, events_dir: str,
                        watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup on event_id within a watermark — the streaming
    twin of functions.dedup.dedup_exact. State is bounded by the watermark
    (ids older than it are dropped from the store), which is the property
    that lets this run forever at corpus scale."""
    stream = _read_events_stream(spark, events_dir)
    return (stream
            .withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(["event_id"]))


def _read_events_stream(spark: SparkSession, events_dir: str,
                        max_files_per_trigger: int | None = None) -> DataFrame:
    # maxFilesPerTrigger is a SOURCE option: it must be set on readStream
    # (setting it on writeStream is silently ignored — the late-drop test
    # found this the hard way)
    import os

    from bqetl_spark.sources.parquet_source import events_ts_micros, parquet_schema

    schema = parquet_schema(spark, events_dir)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if events_dir.endswith(".parquet") and os.path.isfile(events_dir):
        base, fname = os.path.dirname(events_dir), os.path.basename(events_dir)
        stream = reader.option("pathGlobFilter", fname).parquet(base)
    else:
        stream = reader.parquet(events_dir)
    return events_ts_micros(stream)


def stream_click_to_purchase(spark: SparkSession, events_dir: str,
                             within: str = "1 hour") -> DataFrame:
    """Watermarked stream-stream join: every (click, purchase) pair by the
    same user with the purchase at or after the click and within
    ``within``. Both sides carry watermarks so the join state is bounded —
    the property that lets the join run indefinitely; the time-range
    predicate tells Spark how long to retain each side."""
    clicks = (_read_events_stream(spark, events_dir)
              .filter(F.col("event_type") == "click")
              .select(F.col("user_id").alias("c_user"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("click_ts"))
              .withWatermark("click_ts", within))
    purchases = (_read_events_stream(spark, events_dir)
                 .filter(F.col("event_type") == "purchase")
                 .select(F.col("user_id").alias("p_user"),
                         F.col("event_id").alias("purchase_id"),
                         F.col("ts").alias("purchase_ts"))
                 .withWatermark("purchase_ts", within))
    return (clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user")) &
        (F.col("purchase_ts") >= F.col("click_ts")) &
        (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {within}")),
        "inner")
        .select(F.col("c_user").alias("user_id"), "click_id", "purchase_id"))


def stream_session_windows(spark: SparkSession, events_dir: str,
                           gap: str = "30 minutes",
                           watermark: str = "2 hours") -> DataFrame:
    """Native streaming sessionization: ``F.session_window`` merges
    per-user event windows with a gap rule INSIDE the state store — the
    built-in operator the custom applyInPandasWithState sessionizer
    (streaming/stateful.py) reimplements by hand. Watermark bounds state:
    a session older than the watermark can no longer grow and is evicted.
    Returns (user_id, sess_start_us, sess_end_us, n_events) with
    epoch-microsecond spans so the batch/oracle comparison is
    integer-exact (end = last event + gap; events exactly gap-apart
    merge — verified boundary semantics)."""
    stream = _read_events_stream(spark, events_dir)
    return (stream
            .withWatermark("ts", watermark)
            .groupBy("user_id", F.session_window("ts", gap))
            .agg(F.count("*").alias("n_events"))
            .select("user_id",
                    F.unix_micros(F.col("session_window.start"))
                    .alias("sess_start_us"),
                    F.unix_micros(F.col("session_window.end"))
                    .alias("sess_end_us"),
                    "n_events"))


def stream_static_enrich(spark: SparkSession, events_dir: str,
                         dim: DataFrame, stream_key: str,
                         dim_key: str) -> DataFrame:
    """Stream-static join: enrich a stream with a batch dimension table —
    the production lookup shape (events ⋈ slowly-refreshed dim). Spark
    re-plans the static side per micro-batch, so a dim refresh between
    batches is picked up without restarting the query; the static side is
    broadcast (stateless join — no watermark or state store involved,
    unlike stream-stream joins). Inner join; returns the enriched
    stream."""
    stream = _read_events_stream(spark, events_dir)
    return stream.join(F.broadcast(dim),
                       stream[stream_key] == dim[dim_key], "inner")


def stream_upsert_user_totals(spark: SparkSession, events_dir: str,
                              target_path: str,
                              max_files_per_trigger: int = 1) -> None:
    """foreachBatch streaming sink: per-user event totals MERGEd into a
    stored table once per micro-batch — the standard pattern for sinks
    Structured Streaming cannot write natively (JDBC upserts, MERGE INTO
    a lakehouse table). Each batch computes its partial per-user counts
    (update-mode aggregation keeps cross-batch state in Spark, so each
    batch emits the affected users' NEW running totals; the merge is a
    same-key replace), and the final table equals the batch group-by
    regardless of how the replay is chopped into batches.

    Runs the query to completion (availableNow) and returns None — the
    caller reads ``target_path`` for the result. Exactly-once caveat is
    the standard one for foreachBatch: the merge must be idempotent per
    batch_id for production restarts; this bounded-replay harness runs
    each batch once."""
    from bqetl_spark.operators.merge import upsert

    stream = (_read_events_stream(spark, events_dir)
              .groupBy("user_id")
              .agg(F.count("*").alias("n_events")))

    def sink(bdf: DataFrame, batch_id: int) -> None:
        import os

        sp = bdf.sparkSession
        # explicit existence check — see stream_kmv_user_distinct's sink
        base = (sp.read.parquet(target_path)
                if os.path.isdir(target_path) else None)
        if base is None:
            out = bdf
        else:
            # update-mode batches emit the user's NEW running total —
            # same-key replace is exactly MERGE WHEN MATCHED UPDATE
            out = upsert(base, bdf, "user_id")
        # parquet emulation of a transactional target: write-new-then-swap
        # is merge_into's job for real table formats (operators/merge.py)
        replace_parquet_state(out, target_path, batch_id)

    (stream.writeStream.outputMode("update")
     .option("maxFilesPerTrigger", max_files_per_trigger)
     .foreachBatch(sink)
     .trigger(availableNow=True)
     .option("checkpointLocation", target_path + ".ckpt")
     .start().awaitTermination())


def stream_kmv_user_distinct(spark: SparkSession, events_dir: str,
                             target_path: str, k: int = 64,
                             max_files_per_trigger: int = 1) -> None:
    """Streaming SKETCH MAINTENANCE (r6): fold each micro-batch's KMV
    sketch of distinct user_ids per event_type into a persisted
    (grp, mins) sketch table — the streaming half of the kmv_incremental
    story: a live pipeline keeps bounded per-group state (k longs) and
    answers COUNT(DISTINCT ...) at any moment without ever re-scanning
    history.

    Correctness is the merge losslessness property (sketch.kmv_merge):
    the k smallest of a union is computable from each side's k smallest,
    so the final persisted sketch equals the full-corpus sketch REGARDLESS
    of how the replay is chopped into micro-batches — which is what makes
    a streaming op value-oracle-able (the gate's oracle is the plain
    batch KMV SQL). State per group is k 60-bit hashes; the per-batch
    fold is one bounded-size merge, never a history re-scan.

    Runs to completion (availableNow) and returns None; callers read
    ``target_path`` and apply ``kmv_estimate``. Same foreachBatch
    idempotency caveat as ``stream_upsert_user_totals``."""
    from bqetl_spark.functions.sketch import kmv_merge, kmv_sketch

    stream = (_read_events_stream(spark, events_dir, max_files_per_trigger)
              .select("event_type", "user_id"))

    def sink(bdf: DataFrame, batch_id: int) -> None:
        import os

        sp = bdf.sparkSession
        batch_sketch = kmv_sketch(bdf, "user_id", "event_type", k)
        # explicit existence check, NOT try/except-Exception: a corrupt or
        # transiently unreadable sketch must FAIL the batch, not silently
        # restart accumulation from scratch — a reset sketch produces a
        # plausible-but-wrong estimate nothing downstream would notice
        # (code-review r6 finding)
        base = (sp.read.parquet(target_path)
                if os.path.isdir(target_path) else None)
        out = (batch_sketch if base is None
               else kmv_merge(base, batch_sketch, k=k))
        replace_parquet_state(out, target_path, batch_id)

    (stream.writeStream.outputMode("append")
     .foreachBatch(sink)
     .trigger(availableNow=True)
     .option("checkpointLocation", target_path + ".ckpt")
     .start().awaitTermination())


def stream_event_counts(spark: SparkSession, events_dir: str,
                        window: str = "1 hour",
                        watermark: str = "2 hours",
                        max_files_per_trigger: int | None = None) -> DataFrame:
    """readStream(events) → watermark → tumbling-window counts per type.

    Returns the streaming DataFrame; callers start it with
    ``writeStream.trigger(availableNow=True)`` (tests) or a real trigger.
    ``max_files_per_trigger`` splits a directory replay into one
    micro-batch per file (mtime order) — how the late-drop test drives a
    real watermark advance between batches.
    """
    stream = _read_events_stream(spark, events_dir, max_files_per_trigger)
    return (stream
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("win"), "event_type")
            # decimal partial sums: exact and order-independent, so the
            # streaming answer is bit-identical to the batch/oracle answer
            # regardless of micro-batch boundaries
            .agg(F.count("*").alias("n_events"),
                 F.sum(F.col("value").cast("decimal(18,2)"))
                  .cast("double").alias("sum_value"))
            .select(F.col("win.start").alias("window_start"),
                    "event_type", "n_events", "sum_value"))


def stream_hll_user_distinct(spark: SparkSession, events_dir: str,
                             target_path: str,
                             max_files_per_trigger: int = 1) -> None:
    """Streaming HyperLogLog maintenance (r7): fold each micro-batch's
    HLL registers of distinct user_ids per event_type into a persisted
    (event_type, bucket, max_rho) table — the same streaming-sketch
    story as ``stream_kmv_user_distinct`` but with the register-MAX
    merge: registers are idempotent under max, so the persisted sketch
    equals the full-corpus sketch REGARDLESS of the batch chop, and the
    gate's oracle is the plain batch HLL SQL. State per group is at most
    256 small ints; the per-batch fold is one bounded merge, never a
    history re-scan.

    Runs to completion (availableNow) and returns None; callers read
    ``target_path`` and apply ``hll_estimate``. Same foreachBatch
    idempotency caveat as ``stream_upsert_user_totals`` — and note
    max-merge is even restart-tolerant: re-merging a replayed batch is a
    no-op, unlike additive sketches."""
    from bqetl_spark.functions.sketch import hll_merge, hll_sketch

    stream = (_read_events_stream(spark, events_dir, max_files_per_trigger)
              .select("event_type", "user_id"))

    def sink(bdf: DataFrame, batch_id: int) -> None:
        import os

        sp = bdf.sparkSession
        batch_sketch = hll_sketch(bdf, "user_id", "event_type")
        # explicit existence check, NOT try/except — a corrupt sketch
        # must fail the batch, not silently restart accumulation
        # (same code-review r6 finding as the KMV sink)
        base = (sp.read.parquet(target_path)
                if os.path.isdir(target_path) else None)
        out = (batch_sketch if base is None
               else hll_merge(base, batch_sketch))
        replace_parquet_state(out, target_path, batch_id)

    (stream.writeStream.outputMode("append")
     .foreachBatch(sink)
     .trigger(availableNow=True)
     .option("checkpointLocation", target_path + ".ckpt")
     .start().awaitTermination())


def stream_cms_user_counts(spark: SparkSession, events_dir: str,
                           target_path: str, width: int = 128,
                           depth: int = 4,
                           max_files_per_trigger: int = 1) -> None:
    """Streaming count-min maintenance (r7): fold each micro-batch's
    CMS grid of per-user event counts into a persisted (d, idx, cnt)
    table — the frequency sibling of ``stream_hll_user_distinct``.
    Counters ADD under union, so the persisted grid equals the
    full-corpus sketch for any batch chop; the fold is one bounded
    merge of depth·width-row tables, never a history re-scan.

    Additive merge is NOT restart-idempotent (re-merging a replayed
    batch double-counts, unlike HLL's max) — exactly-once here rests on
    foreachBatch's checkpointed batch ids, the same contract
    ``stream_upsert_user_totals`` documents. Runs to completion
    (availableNow); callers read ``target_path`` and apply
    ``cms_estimate``."""
    from bqetl_spark.functions.sketch import cms_merge, cms_sketch

    stream = (_read_events_stream(spark, events_dir, max_files_per_trigger)
              .select("user_id"))

    def sink(bdf: DataFrame, batch_id: int) -> None:
        import os

        sp = bdf.sparkSession
        batch_sketch = cms_sketch(bdf, "user_id", width, depth)
        base = (sp.read.parquet(target_path)
                if os.path.isdir(target_path) else None)
        out = (batch_sketch if base is None
               else cms_merge(base, batch_sketch))
        replace_parquet_state(out, target_path, batch_id)

    (stream.writeStream.outputMode("append")
     .foreachBatch(sink)
     .trigger(availableNow=True)
     .option("checkpointLocation", target_path + ".ckpt")
     .start().awaitTermination())


def stream_quantile_values(spark: SparkSession, events_dir: str,
                           target_path: str, k: int = 1024,
                           max_files_per_trigger: int = 1) -> None:
    """Streaming QUANTILE-sketch maintenance (r8 — completes the
    streaming half of the persisted-sketch family alongside
    stream_kmv/stream_hll/stream_cms): fold each micro-batch's bottom-k
    min-hash priority sample of events.value into a persisted (v, hv)
    sample table, so a live pipeline answers p50/p90/p99 at any moment
    from k rows of state without re-scanning history.

    Correctness is quantile_sketch_merge's exact-mergeability: min-wise
    sampling commutes with union, so the final persisted sample equals
    the full-corpus sample REGARDLESS of the batch chop — which makes
    the op value-oracle-able (the gate's oracle is the plain batch
    bottom-k SQL). The merge's (hv, v) dedup additionally makes a
    restart-replayed batch a no-op (same idempotency class as HLL's
    register MAX). State is k (value, hash) rows total.

    Runs to completion (availableNow) and returns None; callers read
    ``target_path`` and apply ``quantiles_from_sketch``. Same
    foreachBatch idempotency caveat as ``stream_upsert_user_totals``."""
    from bqetl_spark.functions.sketch import (quantile_sketch,
                                              quantile_sketch_merge)

    stream = (_read_events_stream(spark, events_dir, max_files_per_trigger)
              .select("event_id", "value"))

    def sink(bdf: DataFrame, batch_id: int) -> None:
        import os

        sp = bdf.sparkSession
        batch_sketch = quantile_sketch(bdf, "value", F.col("event_id"), k)
        # explicit existence check, NOT try/except (see stream_kmv note:
        # a silently reset sketch is a plausible-but-wrong estimate)
        base = (sp.read.parquet(target_path)
                if os.path.isdir(target_path) else None)
        out = (batch_sketch if base is None
               else quantile_sketch_merge(base, batch_sketch, k=k))
        replace_parquet_state(out, target_path, batch_id)

    (stream.writeStream.outputMode("append")
     .foreachBatch(sink)
     .trigger(availableNow=True)
     .option("checkpointLocation", target_path + ".ckpt")
     .start().awaitTermination())


def stream_ams_moment(spark: SparkSession, events_dir: str,
                      target_path: str, groups: int = 5,
                      per_group: int = 8,
                      max_files_per_trigger: int = 1) -> None:
    """Streaming AMS F₂ maintenance (r10 — the self-join-size member of
    the persisted-sketch family alongside stream_kmv/hll/cms/quantile):
    fold each micro-batch's (event_type, j, s) signed-sum sketch of
    user_id into a persisted table by ADDITION (``ams_merge``), so a
    live pipeline can size a prospective self-join on the key at any
    moment from groups·per_group longs per group — never re-scanning
    history.

    The signed sum is linear in the data, so the persisted sketch
    equals the full-corpus sketch for ANY batch chop (chop-invariance
    pinned in tests). Like CMS, additive merge is not
    restart-idempotent — exactly-once rests on foreachBatch's
    checkpointed batch ids. Runs to completion (availableNow); callers
    read ``target_path`` and apply ``ams_estimate_f2``."""
    from bqetl_spark.functions.sketch import ams_merge, ams_sketch

    stream = (_read_events_stream(spark, events_dir, max_files_per_trigger)
              .select("event_type", "user_id"))

    def sink(bdf: DataFrame, batch_id: int) -> None:
        import os

        sp = bdf.sparkSession
        batch_sketch = ams_sketch(bdf, "user_id", "event_type",
                                  groups, per_group)
        base = (sp.read.parquet(target_path)
                if os.path.isdir(target_path) else None)
        out = (batch_sketch if base is None
               else ams_merge(base, batch_sketch))
        replace_parquet_state(out, target_path, batch_id)

    (stream.writeStream.outputMode("append")
     .foreachBatch(sink)
     .trigger(availableNow=True)
     .option("checkpointLocation", target_path + ".ckpt")
     .start().awaitTermination())
