"""Reference-parity gates: the namespacing, denormalization, lookup
and nesting operators of the reference pipeline (mapped onto the
TPC-H-ish tables per FIXTURES.md: customer<->artist,
orders/lineitem<->credit/recording, nation/region<->area/gender),
and the source/sink round trips (NDJSON, ORC, CSV, partitioned,
emulated BigQuery, compaction, shard export, Python DataSource).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bqetl_spark.functions import chunking as ck
from bqetl_spark.operators.joins import LookupDescription, inner_join, lookup
from bqetl_spark.operators.nest import nest, split_repeated
from bqetl_spark.operators.project import project_to_schema
from bqetl_spark.schema import SchemaBuilder
from bqetl_spark.sources.json_source import load_table_from_text
from bqetl_spark.sources.parquet_source import load_parquet_table

from bqetl_spark.gates import gate
from bqetl_spark.gates.common import DEC, _money, _scratch, _t


@gate(oracle="""
            SELECT c_custkey AS customer_c_custkey, c_name AS customer_c_name,
                   c_mktsegment AS customer_c_mktsegment
            FROM customer""")
def q_namespace_project(spark, sf_dir):
    """S2/P2 namespaced load + P1/R2 declared-schema projection."""
    cust = load_parquet_table(spark, sf_dir, "customer", namespace=True)
    return cust.select("customer_c_custkey", "customer_c_name",
                       "customer_c_mktsegment")


@gate(oracle="""
            SELECT c_custkey, c_name, o_orderkey, o_orderstatus,
                   l_linenumber, l_quantity, l_returnflag
            FROM customer
            JOIN orders   ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey""")
def q_denorm_flat(spark, sf_dir):
    """J1 two-hop inner join — BQETLSimple.java:85-96 analog."""
    cust = load_parquet_table(spark, sf_dir, "customer", namespace=True)
    orders = load_parquet_table(spark, sf_dir, "orders", namespace=True)
    li = load_parquet_table(spark, sf_dir, "lineitem", namespace=True)
    j1 = inner_join(cust, orders, "customer_c_custkey", "orders_o_custkey")
    j2 = inner_join(j1, li, "orders_o_orderkey", "lineitem_l_orderkey")
    return j2.select(
        F.col("customer_c_custkey").alias("c_custkey"),
        F.col("customer_c_name").alias("c_name"),
        F.col("orders_o_orderkey").alias("o_orderkey"),
        F.col("orders_o_orderstatus").alias("o_orderstatus"),
        F.col("lineitem_l_linenumber").alias("l_linenumber"),
        F.col("lineitem_l_quantity").alias("l_quantity"),
        F.col("lineitem_l_returnflag").alias("l_returnflag"),
    )


@gate(oracle="""
            SELECT c_custkey,
                   COALESCE(n_name, CAST(c_nationkey AS VARCHAR)) AS nation_name
            FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey""")
def q_lookup_decode(spark, sf_dir):
    """J2 broadcast lookup-decode with stringified-id fallback
    (MusicBrainzTransforms.java:456-507)."""
    cust = load_parquet_table(spark, sf_dir, "customer", namespace=True)
    nation = load_parquet_table(spark, sf_dir, "nation", namespace=True)
    out = lookup(cust, nation, "customer",
                 LookupDescription("nation", "n_nationkey", "n_name",
                                   ["c_nationkey"]))
    return out.select(F.col("customer_c_custkey").alias("c_custkey"),
                      F.col("customer_c_nationkey").alias("nation_name"))


@gate(oracle="""
            SELECT c_custkey,
                   COALESCE(n_orders, 0) AS n_orders,
                   CAST(COALESCE(total_dec, 0) AS DOUBLE) AS total_spent
            FROM customer
            LEFT JOIN (
              SELECT o_custkey, count(*) AS n_orders,
                     SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total_dec
              FROM orders GROUP BY o_custkey
            ) o ON c_custkey = o_custkey""")
def q_nest_orders(spark, sf_dir):
    """J3/A1 nest (collect_list struct + left join + empty-array default),
    verified through array-derived scalars (size + exact decimal total)."""
    cust = load_parquet_table(spark, sf_dir, "customer")
    orders = (load_parquet_table(spark, sf_dir, "orders")
              .withColumn("o_totalprice_dec", _money("o_totalprice")))
    nested = nest(cust, orders, "c_custkey", "o_custkey", "orders_arr",
                  child_cols=["o_orderkey", "o_totalprice_dec"],
                  sort_children_by="o_orderkey")
    total = F.aggregate(
        "orders_arr", F.lit(0).cast(DEC),
        lambda acc, o: (acc.cast(DEC) + o["o_totalprice_dec"]).cast(DEC))
    return nested.select(
        "c_custkey",
        F.size("orders_arr").cast("long").alias("n_orders"),
        total.cast("double").alias("total_spent"))


@gate(oracle="""
            -- the operator nests orders UNDER EXISTING customers (join
            -- before nest), so the oracle must join too: orders with a
            -- NULL or dangling o_custkey have no parent row and produce
            -- no chunk (perturbation-fuzz finding — the shortcut without
            -- the join only agreed under referential integrity)
            WITH seq AS (
              SELECT c_custkey, o_orderkey,
                     row_number() OVER (PARTITION BY c_custkey ORDER BY o_orderkey) - 1 AS rn
              FROM orders JOIN customer ON o_custkey = c_custkey)
            SELECT c_custkey,
                   count(*) AS chunk_size,
                   min(o_orderkey) AS chunk_min_orderkey
            FROM seq GROUP BY c_custkey, rn // 10""")
def q_nest_chunked(spark, sf_dir):
    """R3 nesting-limit row-split: chunks of ≤10 orders per output row
    (MusicBrainzTransforms.java:224-282, documented-intent chunking)."""
    cust = load_parquet_table(spark, sf_dir, "customer")
    orders = load_parquet_table(spark, sf_dir, "orders")
    nested = nest(cust, orders, "c_custkey", "o_custkey", "orders_arr",
                  child_cols=["o_orderkey"], sort_children_by="o_orderkey")
    nested = nested.filter(F.size("orders_arr") > 0)
    split = split_repeated(nested, "orders_arr", limit=10)
    return split.select(
        "c_custkey",
        F.size("orders_arr").cast("long").alias("chunk_size"),
        F.array_min(F.transform("orders_arr", lambda o: o["o_orderkey"]))
         .cast("long").alias("chunk_min_orderkey"))


def _register_pyds(spark):
    """Register the NDJSON DataSource + enable Python filter pushdown
    (sources.pyds.register): tolerates ONLY double registration; genuine
    failures (e.g. a Spark without the 4.x DataSource API) re-raise so
    the gate fails diagnosably at register time, not at load()
    (ADVICE r6)."""
    from bqetl_spark.sources import pyds

    pyds.register(spark)


# custom Python DataSource round-trip == the plain table
@gate(oracle="""
        SELECT doc_id, text, lang, source, n_chars FROM documents""")
def q_pyds_ndjson(spark, sf_dir):
    """Custom Python DataSource round-trip (sources/pyds.py — Spark 4's
    DataSource API, the MODERN connector path for the reference's S1/S2
    NDJSON surface): documents exported as 4 NDJSON shards, read back
    through `format("bqetl_ndjson")` with one InputPartition per shard
    (df.rdd.getNumPartitions() == shard count — asserted in tests). The
    oracle is the plain documents SELECT, so the hash-match certifies the
    connector is value-faithful including absent-field→NULL and
    schema-driven coercion."""
    _register_pyds(spark)
    d = _scratch("pyds", sf_dir) + "/docs"
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars")
    docs.repartition(4).write.mode("overwrite").json(d)
    return spark.read.format("bqetl_ndjson").schema(docs.schema).load(d)


# pushed-filter semantics: the reader applies the conjunction before
# Arrow serialization; the oracle runs the identical WHERE on the
# original table (text IS NOT NULL is vacuous on this corpus but
# exercises the IsNotNull pushdown path)
@gate(oracle="""
        SELECT doc_id, lang, source, n_chars FROM documents
        WHERE lang = 'en' AND n_chars >= 200 AND n_chars < 2000
          AND source IN ('web', 'books') AND text IS NOT NULL""")
def q_pyds_pushdown(spark, sf_dir):
    """Filter pushdown through the Python DataSource (sources/pyds.py
    pushFilters — Spark 4.1 DataSourceReader API): the WHERE conjunction
    (lang = 'en', n_chars range, source IN set, text IS NOT NULL) is
    accepted by the reader and applied BEFORE rows cross the
    Python->JVM Arrow boundary; the oracle runs the same WHERE over the
    original table, so the hash-match certifies pushed-filter semantics
    (three-valued logic included) end to end. Column pruning cannot flow
    through this engine version (PythonScanBuilder implements only
    SupportsPushDownFilters — probe in pyds.py docstring); projection
    narrowing is done by declaring the narrow schema, which is also what
    this gate reads back."""
    _register_pyds(spark)
    d = _scratch("pyds", sf_dir) + "/docs_pd"
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars")
    docs.repartition(4).write.mode("overwrite").json(d)
    loaded = spark.read.format("bqetl_ndjson").schema(docs.schema).load(d)
    return (loaded
            .where((F.col("lang") == "en")
                   & (F.col("n_chars") >= 200) & (F.col("n_chars") < 2000)
                   & F.col("source").isin("web", "books")
                   & F.col("text").isNotNull())
            .select("doc_id", "lang", "source", "n_chars"))


@gate(oracle="SELECT doc_id, lang, n_chars FROM documents")
def q_ndjson_roundtrip(spark, sf_dir):
    """Parity loader in the gate: serialize documents to NDJSON lines
    (distributed, no collect), re-parse through the S2/S6 loader with P2
    namespacing (json_source.load_table_from_text), un-namespace, compare
    against the plain table via the oracle. The read schema is the
    serialized struct's, so the loader runs no inference job."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    lines = docs.select(F.to_json(F.struct(*docs.columns)).alias("value"))
    parsed = load_table_from_text(spark, lines, "documents", key_name="doc_id",
                                  schema=docs.schema)
    return parsed.select(
        F.col("documents_doc_id").alias("doc_id"),
        F.col("documents_lang").alias("lang"),
        F.col("documents_n_chars").alias("n_chars"))


@gate(oracle="SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer")
def q_orc_roundtrip(spark, sf_dir):
    """ORC source/sink parity (Spark-native columnar alternative; bundled,
    unlike Avro — see README environment probes): customers written to ORC
    distributed, re-read, compared against the plain parquet table. The
    oracle is the straight parquet SELECT, so the hash-match proves the
    ORC write+read path is value-faithful."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment")
    out = _scratch("orc", sf_dir, wipe=True) + "/customer"
    cust.write.mode("overwrite").orc(out)
    return spark.read.orc(out)


@gate(oracle="SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer")
def q_csv_roundtrip(spark, sf_dir):
    """CSV source parity in the gate: customers serialized to CSV
    (distributed write), re-read through the declared-schema CSV loader
    with namespacing, un-namespaced, compared against the plain table."""
    from pyspark.sql import types as T

    from bqetl_spark.sources.csv_source import load_csv_table

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment")
    out = _scratch("csv", sf_dir, wipe=True) + "/customer"
    cust.write.mode("overwrite").option("header", "true").csv(out)
    schema = T.StructType([
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType())])
    back = load_csv_table(spark, out, "customer", schema=schema,
                          key_name="c_custkey")
    return back.select(
        F.col("customer_c_custkey").alias("c_custkey"),
        F.col("customer_c_name").alias("c_name"),
        F.col("customer_c_acctbal").alias("c_acctbal"),
        F.col("customer_c_mktsegment").alias("c_mktsegment"))


@gate(oracle="""
            SELECT doc_id, lang, n_chars,
                   CAST(NULL AS VARCHAR) AS not_in_source
            FROM documents""")
def q_schema_projection(spark, sf_dir):
    """P1/R2 declared-schema projection: keep only declared fields in
    order, cast to declared types, absent field → typed NULL column
    (MusicBrainzTransforms.java:229-249 semantics)."""
    docs = _t(spark, sf_dir, "documents")
    schema = (SchemaBuilder()
              .integer("doc_id", required=True)
              .string("lang")
              .integer("n_chars")
              .string("not_in_source")   # declared but absent → NULL
              .build())
    return project_to_schema(docs, schema)


@gate(oracle="""
        SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS c_acctbal,
               c_mktsegment
        FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')""")
def q_partitioned_roundtrip(spark, sf_dir):
    """Hive-partitioned lake write in the gate (sources/partitioned.py):
    customers written partitioned by market segment, read back through a
    partition filter (directory pruning — prunes_partitions() asserts the
    scan's PartitionFilters in tests/test_partitioned.py). The oracle is
    the plain filtered SELECT, so the hash-match proves the partition
    round-trip is value-faithful including the partition column's
    string-typed directory encoding."""
    from bqetl_spark.sources.partitioned import (read_partitioned,
                                                 write_partitioned)

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment")
    out = _scratch("part", sf_dir, wipe=True) + "/customer"
    write_partitioned(cust, out, ["c_mktsegment"])
    back = read_partitioned(spark, out)
    return (back.filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
            .select("c_custkey", "c_name",
                    F.col("c_acctbal").cast("double").alias("c_acctbal"),
                    F.col("c_mktsegment").cast("string")
                    .alias("c_mktsegment")))


# shard membership is the md5-mod rule itself
@gate(oracle="""
        SELECT doc_id, lang, source,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                 % 8 AS shard
        FROM documents""")
def q_export_shards(spark, sf_dir):
    """Training-export sharding gate (functions.chunking.export_shards):
    write documents into shard=K/ directories with deterministic md5-mod
    membership, read back through the partitioned layout — assignment
    must be reproducible in SQL (same doc -> same shard, every run)."""
    docs = _t(spark, sf_dir, "documents")
    out = _scratch("shards", sf_dir, wipe=True) + "/export"
    back = ck.export_shards(docs, out, n_shards=8)
    return back.select("doc_id", "lang", "source", "shard")


# the emulated BigQuery sink is value-invisible end to end
@gate(oracle="""
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               CAST(epoch(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT)
                 AS orderdate_epoch
        FROM orders""")
def q_bq_sink_emulated(spark, sf_dir):
    """S5 executed end-to-end against the emulated BigQuery sink
    (sources.sinks.write_bigquery_emulated): the SAME write plan the
    connector would consume (WRITE_TRUNCATE, declared schema + INT64/
    FLOAT64 widening, MONTH time-partitioning, clustering) actually runs
    — rows land under partition-decorator directories, clustered within
    files — then read back through the emulated reader. Values must
    hash-match the source table; layout/mode semantics pinned by
    tests/test_sinks.py."""
    from pyspark.sql import types as T

    from bqetl_spark.sources.sinks import (bigquery_write_plan,
                                           read_bigquery_emulated,
                                           write_bigquery_emulated)

    orders = _t(spark, sf_dir, "orders")
    schema = T.StructType([
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampType()),
    ])
    plan = bigquery_write_plan(
        "demo_project.warehouse.orders_sink", mode="overwrite",
        partition_field="o_orderdate", partition_type="MONTH",
        clustered_fields=["o_custkey"], schema=schema)
    root = _scratch("bq_emul", sf_dir, wipe=True)
    write_bigquery_emulated(orders, plan, root)
    back = read_bigquery_emulated(spark, "demo_project.warehouse.orders_sink",
                                  root)
    return back.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        F.unix_timestamp("o_orderdate").alias("orderdate_epoch"))


# compaction is value-invisible: the oracle is the plain table
@gate(oracle="""
        SELECT doc_id, lang, source, n_chars FROM documents""")
def q_compact_roundtrip(spark, sf_dir):
    """Small-file compaction gate (sources.compaction.compact_parquet):
    fragment documents into 64 tiny files, compact to size-targeted
    files, read back — values must hash-match the original table (the
    maintenance rewrite is invisible to readers). File-count and
    clustering effects are pinned by tests/test_compaction.py."""
    from bqetl_spark.sources.compaction import compact_parquet

    docs = _t(spark, sf_dir, "documents")
    tmp = _scratch("compact", sf_dir, wipe=True)
    frag, out = f"{tmp}/frag", f"{tmp}/compacted"
    docs.repartition(64).write.mode("overwrite").parquet(frag)
    back = compact_parquet(spark, frag, out, target_bytes=8 * 1024 * 1024)
    return back.select("doc_id", "lang", "source", "n_chars")
