"""Nested denormalization pipeline — parity with BQETLNested.java:36-96.

artist_credit_name ⋈ recording (on artist_credit), then all joined
credit+recording rows are nested as a repeated RECORD column
``artist_recordings`` under their artist (BQETLNested.java:62-70, column name
hardcoded at MusicBrainzTransforms.java:166), then projected through the
nested schema (BQETLNested.java:98-135) and row-split at the BigQuery
1000-children limit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from bqetl_spark.operators.joins import LookupDescription, inner_join
from bqetl_spark.operators.nest import nest, split_repeated
from bqetl_spark.operators.project import project_to_schema
from bqetl_spark.schema import SchemaBuilder
from bqetl_spark.sources.json_source import column_names, load_table, read_schemas

NESTED_CHILD_COLS = [
    "recording_name", "recording_length", "recording_gid", "recording_video",
    "artist_credit_name_position", "artist_credit_name_name",
    "artist_credit_name_join_phrase",
]


def nested_output_schema() -> T.StructType:
    """BQETLNested.java:98-135 — artist columns + repeated RECORD of
    credit/recording fields."""
    child = (SchemaBuilder()
             .string("recording_name")
             .integer("recording_length")
             .string("recording_gid")
             .boolean("recording_video")
             .integer("artist_credit_name_position")
             .string("artist_credit_name_name")
             .string("artist_credit_name_join_phrase"))
    return (SchemaBuilder()
            .integer("artist_id", required=True)
            .string("artist_gid")
            .string("artist_name")
            .string("artist_sort_name")
            .string("artist_area")
            .string("artist_gender")
            .timestamp("artist_last_updated")
            .repeated_record("artist_recordings", child)
            .build())


TABLES = ("artist", "artist_credit_name", "recording")
# credit ⋈ recording on artist_credit, then nest under artist_id
JOIN = ("artist_credit_name_artist_credit", "recording_artist_credit")
PARENT_KEY, CHILD_KEY = "artist_id", "artist_credit_name_artist"


def _child_flat_schema() -> T.StructType:
    """R4 child-row projection BEFORE nesting: declared-but-absent child
    fields become typed NULLs (an input without e.g. recording.video must
    still produce the declared struct, MusicBrainzTransforms.java:229-249)."""
    return (SchemaBuilder()
            .integer(CHILD_KEY, required=True)
            .string("recording_name")
            .integer("recording_length")
            .string("recording_gid")
            .boolean("recording_video")
            .integer("artist_credit_name_position")
            .string("artist_credit_name_name")
            .string("artist_credit_name_join_phrase")
            .build())


def nested_read_schemas() -> dict[str, T.StructType]:
    """Per-table NDJSON read schemas: the output columns (the nested
    RECORD's children included), the child key and the join keys, all
    strings."""
    return read_schemas(column_names(nested_output_schema())
                        + column_names(_child_flat_schema()) + list(JOIN),
                        TABLES)


def bqetl_nested(spark: SparkSession, bucket: str,
                 nesting_limit: int | None = 1000) -> DataFrame:
    schemas = nested_read_schemas()
    # Lookups are always on in this main (BQETLNested.java:50-56).
    artists = load_table(spark, bucket, "artist", key_name="id", lookups=[
        LookupDescription("area", "id", "name", ["area"]),
        LookupDescription("gender", "id", "name", ["gender"]),
    ], schema=schemas["artist"])
    credits = load_table(spark, bucket, "artist_credit_name",
                         key_name="artist_credit",
                         schema=schemas["artist_credit_name"])
    recordings = load_table(spark, bucket, "recording",
                            key_name="artist_credit", schema=schemas["recording"])

    joined = inner_join(credits, recordings, *JOIN)
    joined = project_to_schema(joined, _child_flat_schema())
    nested = nest(
        artists, joined,
        parent_key=PARENT_KEY,
        child_key=CHILD_KEY,
        nested_name="artist_recordings",
        child_cols=NESTED_CHILD_COLS,
        sort_children_by="artist_credit_name_position",
    )
    out = project_to_schema(nested, nested_output_schema())
    if nesting_limit:
        out = split_repeated(out, "artist_recordings", nesting_limit)
    return out
