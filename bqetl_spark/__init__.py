"""bqetl_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of GoogleCloudPlatform/bigquery-etl-dataflow-sample.

The reference is an Apache Beam (Java) pipeline that denormalizes normalized
NDJSON table exports into flat / nested BigQuery tables
(reference: BQETLSimple.java:32-36, BQETLNested.java:36-96). This package
re-expresses every operator Spark-first: declarative DataFrame plans that
Catalyst optimizes (column pruning, predicate pushdown, broadcast selection),
instead of the reference's hand-scheduled ParDo/CoGroupByKey DAG.

Layout
------
- ``session``    SparkSession factory tuned for local[N] and cluster use.
- ``schema``     SchemaBuilder (parity: FieldSchemaListBuilder.java).
- ``sources``    NDJSON / parquet loaders with column namespacing, sinks.
- ``operators``  joins (inner, broadcast lookup-decode), nest, projection,
                 repeated-field row-split.
- ``functions``  text analysis, dedup (exact/minhash/simhash/jaccard),
                 embedding similarity — the LLM-data-pipeline extensions.
- ``plans``      end-to-end pipelines mirroring BQETLSimple / BQETLNested.
- ``streaming``  Structured Streaming ingest of the events table.
- ``gates``      the driver-contract gate registry: one module per family,
                 each builder registered with ``@gate(oracle=...)`` below
                 its DuckDB SQL. Not imported here (it loads most of the
                 engine); ``__spark_entry__`` reads it.
"""

__version__ = "0.1.0"
