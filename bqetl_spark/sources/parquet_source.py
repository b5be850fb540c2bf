"""Parquet table loading for the driver's TPC-H-ish star schema.

Columnar scans give column pruning + predicate pushdown for free — the plan
should show ``PushedFilters``/``ReadSchema`` restricted to what the query
touches. At 100 TB the same code path reads a partitioned lake directory;
nothing here assumes local files.

Every reader here reads with a declared schema from ``parquet_schema``.
``spark.read.parquet`` without one runs a footer job on each call (about
130 ms against 20 ms declared, sf0.001), and a session rereads the same
tables over and over. ``parquet_schema`` infers once per path and file
listing, and sets the two inference confs (nanos as long, tz-less
timestamps as LTZ) only while it infers. A declared-schema read needs
neither conf at execution time, so the loaders leave the session's conf
as they found it.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType, TimestampNTZType

from bqetl_spark.sources.json_source import namespace_columns

STAR_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Only while inferring: read TIMESTAMP(NANOS) as long (Spark rejects it
# otherwise) and tz-less timestamps as LTZ, the type watermarks,
# ``unix_micros`` and the window functions need.
INFER_CONF = {"spark.sql.legacy.parquet.nanosAsLong": "true",
              "spark.sql.parquet.inferTimestampNTZ.enabled": "false"}
SCHEMA_MEMO_MAX = 256

_memo: OrderedDict[tuple, StructType] = OrderedDict()
_memo_lock = threading.Lock()


def ensure_ltz(df: DataFrame) -> DataFrame:
    """Normalize TIMESTAMP_NTZ columns to TIMESTAMP (LTZ).

    Inference with ``INFER_CONF`` reads tz-less timestamps as LTZ, but a
    column Spark itself wrote as TIMESTAMP_NTZ keeps that type. The engine
    pins the session to UTC semantics, so the cast is value-preserving and
    matches DuckDB's naive timestamps."""
    ntz = [f.name for f in df.schema.fields
           if isinstance(f.dataType, TimestampNTZType)]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


@contextmanager
def _inference_conf(spark: SparkSession):
    saved = {k: spark.conf.get(k, None) for k in INFER_CONF}
    for k, v in INFER_CONF.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _listing(spark: SparkSession, path: str) -> tuple | None:
    """(name, size, mtime) of every file under ``path``, through the
    Hadoop FS so the key works on any filesystem Spark reads. None when
    the path cannot be listed (missing, or a glob): the caller then
    infers without the memo and Spark reports its own error."""
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    try:
        fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
        it = fs.listFiles(p, True)
        files = []
        while it.hasNext():
            st = it.next()
            files.append((st.getPath().toString(), st.getLen(),
                          st.getModificationTime()))
    except Py4JJavaError:
        return None
    return tuple(sorted(files)) or None


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers under ``INFER_CONF``,
    memoized per (path, file listing). An overwritten path has a
    new listing and so re-infers; the memo holds only ``StructType``s and
    keeps the ``SCHEMA_MEMO_MAX`` most recently used."""
    listing = _listing(spark, path)
    key = None if listing is None else (path, listing)
    with _memo_lock:
        if key in _memo:
            _memo.move_to_end(key)
            return _memo[key]
        # under the lock: the confs are session-wide
        with _inference_conf(spark):
            schema = spark.read.parquet(path).schema
        if key is not None:
            _memo[key] = schema
            if len(_memo) > SCHEMA_MEMO_MAX:
                _memo.popitem(last=False)
    return schema


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the memoized declared schema."""
    return spark.read.schema(parquet_schema(spark, path)).parquet(path)


def load_parquet_table(spark: SparkSession, sf_dir: str, name: str,
                       namespace: bool = False) -> DataFrame:
    df = ensure_ltz(read_parquet(
        spark, f"{sf_dir.rstrip('/')}/{name}.parquet"))
    return namespace_columns(df, name) if namespace else df


def load_star(spark: SparkSession, sf_dir: str,
              tables: tuple[str, ...] = STAR_TABLES) -> dict[str, DataFrame]:
    return {t: (load_events(spark, sf_dir) if t == "events"
                else load_parquet_table(spark, sf_dir, t)) for t in tables}


def events_ts_micros(df: DataFrame) -> DataFrame:
    """A TIMESTAMP(NANOS) ``ts`` column reads as a nanosecond long; convert
    it to a microsecond timestamp — DuckDB's CAST(ts AS TIMESTAMP)
    truncates the same way, so the two engines agree."""
    if dict(df.dtypes).get("ts") == "bigint":
        # integer division: `/` is double division, and a nanosecond epoch
        # (~1.7e18) exceeds double's 2^53 integer range → off-by-1µs rows
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return ensure_ltz(df)


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table; its ``ts`` may be stored as TIMESTAMP(NANOS),
    which Spark's parquet reader rejects by default (see
    ``events_ts_micros``)."""
    return events_ts_micros(
        read_parquet(spark, f"{sf_dir.rstrip('/')}/events.parquet"))
