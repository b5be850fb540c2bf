"""Custom stateful streaming operator via applyInPandasWithState.

Running per-user counters over the events stream: for each micro-batch the
operator updates per-key state (event count, value sum, last timestamp) and
emits the updated snapshot. The same shape implements streaming dedup
(state = seen-id sketch) or incremental sessionization.

State lives in Spark's state store per key — at scale the operative limits
are state size per key (keep it a fixed-width struct, never an unbounded
list) and the shuffle that co-locates keys, both of which this obeys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from bqetl_spark.sources.parquet_source import parquet_schema

STATE_SCHEMA = T.StructType([
    T.StructField("n", T.LongType()),
    T.StructField("total", T.DoubleType()),
])

OUTPUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("sum_value", T.DoubleType()),
])


def stream_user_totals(spark: SparkSession, events_dir: str) -> DataFrame:
    """readStream(events) → stateful per-user running totals.

    Returns the streaming DataFrame; drive with
    ``writeStream.outputMode("update").trigger(availableNow=True)`` for a
    bounded replay. Emits one snapshot row per user per micro-batch.
    """
    schema = parquet_schema(spark, events_dir)
    import os

    if events_dir.endswith(".parquet") and os.path.isfile(events_dir):
        base, fname = os.path.dirname(events_dir), os.path.basename(events_dir)
        stream = (spark.readStream.schema(schema)
                  .option("pathGlobFilter", fname).parquet(base))
    else:
        stream = spark.readStream.schema(schema).parquet(events_dir)

    # self-contained closure: workers must not need this package importable
    def update(key, pdfs, state):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                            "sum_value": [round(total, 6)]})

    return (stream
            .groupBy("user_id")
            .applyInPandasWithState(update, OUTPUT_SCHEMA, STATE_SCHEMA,
                                    "update", "NoTimeout"))


SESSION_OUTPUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("n_sessions", T.LongType()),
])

SESSION_STATE_SCHEMA = T.StructType([
    T.StructField("last_us", T.LongType()),
    T.StructField("n", T.LongType()),
])


def stream_session_counts(spark: SparkSession, events_dir: str,
                          gap_minutes: int = 30) -> DataFrame:
    """Stateful streaming sessionization: per-user session COUNT where a
    session break is a gap > ``gap_minutes`` between consecutive events.
    State is a fixed-width (last_event_us, n_sessions) pair per user —
    bounded regardless of stream length, the property that matters at
    scale.

    ORDERING CONTRACT: events are sorted within each micro-batch, but the
    fixed-width state cannot re-order across micro-batches. The final
    snapshot equals the batch lag-window answer (the driver oracle) only
    when each user's events arrive in timestamp order across batches —
    true for the replay harness (one parquet file, one batch) and for any
    source that partitions by event time. A LATE event (us < last_us, only
    possible cross-batch) is counted as in-session with the current
    session and does NOT move last_us backwards — clamping keeps one late
    straggler from fabricating a session break for the events after it.
    Exact late-data handling needs buffered state + a watermark (an
    event-time session window), which trades bounded per-key state for it;
    this operator deliberately keeps the O(1) state."""
    schema = parquet_schema(spark, events_dir)
    import os

    if events_dir.endswith(".parquet") and os.path.isfile(events_dir):
        base, fname = os.path.dirname(events_dir), os.path.basename(events_dir)
        stream = (spark.readStream.schema(schema)
                  .option("pathGlobFilter", fname).parquet(base))
    else:
        stream = spark.readStream.schema(schema).parquet(events_dir)

    gap_us = gap_minutes * 60 * 1_000_000

    def update(key, pdfs, state):
        import pandas as pd

        last_us, n = state.get if state.exists else (None, 0)
        ts = pd.concat([pdf[["ts"]] for pdf in pdfs])["ts"] \
               .sort_values()
        for t in ts:
            us = int(t.value // 1_000)  # pandas ns -> microseconds
            if last_us is None or us - last_us > gap_us:
                n += 1
            # clamp: a cross-batch late event must not regress the
            # watermark (see ordering contract in the docstring)
            last_us = us if last_us is None else max(last_us, us)
        state.update((last_us if last_us is not None else 0, n))
        yield pd.DataFrame({"user_id": [key[0]], "n_sessions": [n]})

    return (stream
            .groupBy("user_id")
            .applyInPandasWithState(update, SESSION_OUTPUT_SCHEMA,
                                    SESSION_STATE_SCHEMA, "update",
                                    "NoTimeout"))
