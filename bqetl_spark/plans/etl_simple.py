"""Flat denormalization pipeline — parity with BQETLSimple.java:49-124.

artist ⋈ artist_credit_name (on artist.id = artist_credit_name.artist)
       ⋈ recording          (on artist_credit_name.artist_credit =
                                 recording.artist_credit)
→ project through the declared flat schema → sink.

Optional ``perform_lookups`` decodes artist.area/begin_area via the ``area``
dimension and artist.gender via ``gender`` (BQETLSimple.java:63-75), as
broadcast joins.

Spark-first: the whole pipeline is one lazy DataFrame lineage; Catalyst
prunes columns down to the scan (the reference hauls every parsed column
through both CoGroupByKey shuffles and drops extras only at the sink,
MusicBrainzTransforms.java:229-249).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from bqetl_spark.operators.joins import LookupDescription, inner_join
from bqetl_spark.operators.project import project_to_schema
from bqetl_spark.schema import SchemaBuilder
from bqetl_spark.sources.json_source import column_names, keyed, load_table, read_schemas


def simple_output_schema(lookups: bool = False) -> T.StructType:
    """Flat output schema (BQETLSimple.java:126-173). Three fields flip
    INTEGER↔STRING when lookups decode them (:160-170)."""
    b = (SchemaBuilder()
         .integer("artist_id", required=True)
         .string("artist_gid")
         .string("artist_name")
         .string("artist_sort_name")
         .integer("artist_begin_date_year")
         .integer("artist_begin_date_month")
         .integer("artist_begin_date_day")
         .integer("artist_end_date_year")
         .integer("artist_end_date_month")
         .integer("artist_end_date_day")
         .integer("artist_type")
         .string("artist_comment")
         .integer("artist_edits_pending")
         .timestamp("artist_last_updated")
         .boolean("artist_ended")
         .string("artist_credit_name_name")
         .integer("artist_credit_name_position")
         .string("artist_credit_name_join_phrase")
         .integer("recording_id")
         .string("recording_gid")
         .string("recording_name")
         .integer("recording_length")
         .string("recording_comment")
         .integer("recording_edits_pending")
         .timestamp("recording_last_updated")
         .boolean("recording_video"))
    if lookups:
        b.string("artist_area").string("artist_gender").string("artist_begin_area")
    else:
        b.integer("artist_area").integer("artist_gender").integer("artist_begin_area")
    return b.build()


TABLES = ("artist", "artist_credit_name", "recording")
# the two equi-joins (BQETLSimple.java:84-95), left key then right key
JOINS = (("artist_id", "artist_credit_name_artist"),
         ("artist_credit_name_artist_credit", "recording_artist_credit"))


def simple_read_schemas(lookups: bool = False) -> dict[str, T.StructType]:
    """Per-table NDJSON read schemas: the output columns plus the join
    keys (the lookup FKs are output columns), all strings."""
    keys = [k for pair in JOINS for k in pair]
    return read_schemas(column_names(simple_output_schema(lookups)) + keys,
                        TABLES)


def bqetl_simple(spark: SparkSession, bucket: str,
                 perform_lookups: bool = False) -> DataFrame:
    lookups = None
    if perform_lookups:
        # BQETLSimple.java:70-71 — one lookup may rewrite several FK columns.
        lookups = [
            LookupDescription("area", "id", "name", ["area", "begin_area"]),
            LookupDescription("gender", "id", "name", ["gender"]),
        ]
    schemas = simple_read_schemas(perform_lookups)
    artists = load_table(spark, bucket, "artist", key_name="id",
                         lookups=lookups, schema=schemas["artist"])
    credits = load_table(spark, bucket, "artist_credit_name",
                         key_name="artist", schema=schemas["artist_credit_name"])
    recordings = load_table(spark, bucket, "recording",
                            key_name="artist_credit", schema=schemas["recording"])

    joined = inner_join(artists, credits, *JOINS[0])
    # re-key by artist_credit (BQETLSimple.java:89-91): the key is just the
    # join column of the next join, cast to long like every key
    joined = keyed(joined, "artist_credit_name", "artist_credit")
    joined = inner_join(joined, recordings, *JOINS[1])
    return project_to_schema(joined, simple_output_schema(perform_lookups))
