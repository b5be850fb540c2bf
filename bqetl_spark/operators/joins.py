"""Joins: equi inner join (J1) and broadcast lookup-decode (J2).

The reference implements J1 as CoGroupByKey + per-key nested-loop cross
product (MusicBrainzTransforms.java:109-137, group helper :82-99), and J2 as
a Map side input probed by a DoFn (MusicBrainzTransforms.java:402-423,
:456-507). Spark-first: both are single ``join`` calls — Catalyst picks
SortMergeJoin/ShuffledHashJoin for J1 and BroadcastHashJoin for J2 (we hint
``F.broadcast`` because lookup dimensions are small by contract). AQE can
further convert J1 to broadcast at runtime when a side turns out small.

Null-key semantics: Beam groups null keys together so null inner-joins null
(MusicBrainzTransforms.java:359-360); we adopt SQL semantics (null keys drop
out of equi-joins), as documented in SURVEY.md §2.3.

Column collisions: the reference merges right columns into the left row map
last-write-wins with a warning (MusicBrainzDataObject.java:104-122).
Namespacing makes collisions impossible by construction, so we *assert*
disjointness instead of silently overwriting.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def inner_join(left: DataFrame, right: DataFrame,
               left_key: str, right_key: str) -> DataFrame:
    """J1: equi inner join; output carries both sides' namespaced columns.

    (MusicBrainzTransforms.java:109-137.) The per-key cross product of the
    reference's nested loop is exactly SQL inner-join semantics on duplicate
    keys, so no extra work is needed — and Spark's hash/merge join replaces
    the O(n·m)-per-key loop with a spill-safe implementation.
    """
    overlap = set(left.columns) & set(right.columns)
    if overlap:
        raise ValueError(
            f"column collision after namespacing (reference would last-write-win, "
            f"MusicBrainzDataObject.java:118): {sorted(overlap)}"
        )
    return left.join(right, on=left[left_key] == right[right_key], how="inner")


@dataclass
class LookupDescription:
    """J2 descriptor (parity: MusicBrainzTransforms.LookupDescription,
    MusicBrainzTransforms.java:560-584).

    One small dimension table decodes one or more FK columns in the fact
    table: ``sourceTable.keyKey -> valueKey`` label applied to each
    ``destinationKeys`` column (e.g. lookup("area", "id", "name",
    "area", "begin_area") — BQETLSimple.java:70).
    """

    source_table: str
    key_key: str
    value_key: str
    destination_keys: list[str] = field(default_factory=list)


def lookup(fact: DataFrame, dim: DataFrame, fact_table: str,
           desc: LookupDescription) -> DataFrame:
    """J2: broadcast lookup-decode with stringified-id fallback.

    Replaces each FK destination column's value with the dimension label;
    a key missing from the dimension falls back to the stringified id
    (MusicBrainzTransforms.java:488-494: label = "" + id). Implemented as a
    broadcast left join + coalesce so it stays inside Catalyst/codegen —
    no Python in the row path.

    ``dim`` columns must be pre-namespaced ``{source_table}_{key,value}``.
    """
    key_col = f"{desc.source_table}_{desc.key_key}"
    val_col = f"{desc.source_table}_{desc.value_key}"
    out = fact
    for dest in desc.destination_keys:
        dest_col = dest if dest.startswith(f"{fact_table}_") else f"{fact_table}_{dest}"
        if dest_col not in out.columns:
            # a destination FK absent from the input is a no-op, matching
            # the reference's map-based rewrite (a TableRow without the
            # field has nothing to decode, MusicBrainzTransforms.java:443)
            continue
        d = dim.select(
            F.col(key_col).try_cast("long").alias(f"__lk_{dest_col}"),
            F.col(val_col).alias(f"__lv_{dest_col}"),
        )
        out = (
            out.join(F.broadcast(d),
                     on=F.col(dest_col).try_cast("long") == F.col(f"__lk_{dest_col}"),
                     how="left")
            .withColumn(
                dest_col,
                # missing key → stringified id; NULL fk stays NULL
                F.coalesce(F.col(f"__lv_{dest_col}"),
                           F.col(dest_col).cast("string")),
            )
            .drop(f"__lk_{dest_col}", f"__lv_{dest_col}")
        )
    return out


def apply_lookups(spark: SparkSession, bucket: str, fact: DataFrame,
                  fact_table: str, lookups: list[LookupDescription]) -> DataFrame:
    """Load each lookup's dimension file and apply it
    (parity: loadTable with LookupDescriptions,
    MusicBrainzTransforms.java:336-346 → :436-454). A dimension is read
    with a declared schema of just its key and value fields, as strings —
    ``lookup`` try_casts the key and stringifies the fallback itself — so
    no inference job scans the file."""
    from bqetl_spark.sources.json_source import load_table_from_text, string_schema, table_path

    out = fact
    for desc in lookups:
        dim = load_table_from_text(
            spark, table_path(bucket, desc.source_table), desc.source_table,
            schema=string_schema([desc.key_key, desc.value_key]))
        out = lookup(out, dim, fact_table, desc)
    return out
