"""NDJSON table loading with column namespacing.

Parity targets:
- S1 ``loadText``            (MusicBrainzTransforms.java:531-537)
- S2 ``loadTableFromText``   (MusicBrainzTransforms.java:374-380 +
                              JSONReader.java:71-101)
- S3 keyed ``loadTableFromText`` (MusicBrainzTransforms.java:350-363)
- S4 ``loadTable`` overloads (MusicBrainzTransforms.java:307-338)
- P2 column namespacing      (MusicBrainzDataObject.java:73-76)
- P3 ``by`` re-key           (MusicBrainzTransforms.java:66-80)

Spark-first notes: instead of parsing JSON per line in Python the way the
reference parses per line with Jackson, we hand the whole file to
``spark.read.json`` (JVM-side, vectorized). "Keying" a collection is a
no-op in Spark — the key is just a named column later used in
joins/groupBys — so S3/P3 reduce to remembering the key column name and
casting it to long (cast failure → NULL, matching
MusicBrainzTransforms.java:75-78).

Read schemas: without one, ``spark.read.json`` runs an inference job that
scans the whole file before the plan exists, and the action scans it
again. The pipelines know every column they use (the declared output
schema plus the join and lookup keys), so ``read_schemas`` derives one
read schema per table from those names, each field declared a string.
The typing then happens where it always did — the ``try_cast`` in
``project_to_schema``, ``keyed`` and ``joins.lookup`` — so a JSON number,
a quoted number and a string boolean cast to the same values the inferred
types gave. One departure: a float in a field declared INTEGER (say
``1.0``) reads as the string ``"1.0"``, which ``try_cast`` turns into
NULL, where an all-float column used to be inferred as double and
truncated. For a key that is the reference's own result (its
``Long.parseLong`` of the Double's text throws, MusicBrainzTransforms.java
:75-78); for another INTEGER field the reference hands the Double to
BigQuery. Only the generic path loader without a schema still infers.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def table_path(bucket: str, name: str) -> str:
    # Reference: path = bucket + "/" + name + ".json"
    # (MusicBrainzTransforms.java:545-547).
    return f"{bucket.rstrip('/')}/{name}.json"


def load_text(spark: SparkSession, bucket: str, name: str) -> DataFrame:
    """S1: one table's NDJSON file as raw lines (value: string)."""
    return spark.read.text(table_path(bucket, name))


def namespace_columns(df: DataFrame, name: str) -> DataFrame:
    """P2: prefix every column as ``{table}_{column}``.

    The reference namespaces at insertion time (MusicBrainzDataObject.java:73-76)
    to avoid collisions after joins; here it is a pure projection the optimizer
    folds into the scan.
    """
    return df.select([F.col(c).alias(f"{name}_{c}") for c in df.columns])


def keyed(df: DataFrame, name: str, key_name: str) -> DataFrame:
    """S3/P3: designate ``{name}_{key_name}`` as the join key, cast to long.

    Beam wraps rows as KV<Long, row>; in Spark the key is just a column.
    A failed cast yields NULL (MusicBrainzTransforms.java:75-78 emits null on
    NumberFormatException — same observable behavior under SQL semantics).
    """
    key_col = f"{name}_{key_name}" if not key_name.startswith(f"{name}_") else key_name
    # try_cast: malformed key → NULL, matching the reference's
    # NumberFormatException → null (not an ANSI runtime error).
    return df.withColumn(key_col, F.col(key_col).try_cast(T.LongType()))


def string_schema(names: Iterable[str]) -> T.StructType:
    """A read schema declaring each named field (first occurrence, in
    order) as a string."""
    return T.StructType([T.StructField(n, T.StringType())
                         for n in dict.fromkeys(names)])


def column_names(schema: T.StructType) -> list[str]:
    """The flat column names behind an output schema. A RECORD (repeated
    or not) contributes its children's names, not its own: the pipeline
    builds it, nothing reads it."""
    out: list[str] = []
    for f in schema.fields:
        t = f.dataType.elementType if isinstance(f.dataType, T.ArrayType) \
            else f.dataType
        out += column_names(t) if isinstance(t, T.StructType) else [f.name]
    return out


def read_schemas(columns: Iterable[str],
                 tables: Iterable[str]) -> dict[str, T.StructType]:
    """One all-string read schema per table from namespaced column names
    (``{table}_{field}``, see ``namespace_columns``). A name goes to the
    longest table it is prefixed by, so ``artist_credit_name_name`` is a
    field of ``artist_credit_name``, not ``credit_name_name`` of
    ``artist``; names of no listed table are ignored."""
    by_len = sorted(tables, key=len, reverse=True)
    fields: dict[str, list[str]] = {t: [] for t in tables}
    for c in columns:
        t = next((t for t in by_len if c.startswith(f"{t}_")), None)
        if t is not None:
            fields[t].append(c[len(t) + 1:])
    return {t: string_schema(names) for t, names in fields.items()}


def _infer_schema(spark: SparkSession, lines: DataFrame) -> T.StructType:
    """The schema ``spark.read.json`` infers for a one-column DataFrame of
    non-null lines. PySpark's reader takes only paths or RDDs (the
    Dataset[String] overload is Scala-only), so the lines are spilled to a
    temp text dir — JVM-side inference, executor-parallel, no Python row
    round-trip. Reading ``.schema`` is eager, so the spill is removed
    before the caller's plan exists."""
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="bqetl_lines_")
    try:
        lines.write.mode("overwrite").text(tmp)
        return spark.read.option("primitivesAsString", "false").json(tmp).schema
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def load_table_from_text(spark: SparkSession, lines: DataFrame | str, name: str,
                         key_name: str | None = None,
                         schema: T.StructType | None = None) -> DataFrame:
    """S2/S3: parse NDJSON into a namespaced DataFrame.

    ``lines`` may be a path (preferred — lets Spark scan the file directly) or
    a DataFrame of raw lines (test in-memory source, parity S6).
    JSON nulls become SQL NULLs (the reference drops null fields at parse,
    JSONReader.java:86-94 — equivalent observable behavior under SQL).
    Nested objects/arrays in input are unsupported by the reference
    (JSONReader.java:58-60); we keep them if a schema asks, else inference
    may surface them — callers projecting through a declared schema drop them.
    """
    if isinstance(lines, str):
        reader = spark.read
        if schema is not None:
            df = reader.json(lines, schema=schema)
        else:
            df = reader.option("primitivesAsString", "false").json(lines)
    else:
        str_col = lines.columns[0]
        if schema is None:
            lines = lines.select(F.col(str_col).cast("string").alias(str_col)).na.drop()
            schema = _infer_schema(spark, lines)
        df = lines.select(F.from_json(F.col(str_col), schema).alias("r")).select("r.*")
    df = namespace_columns(df, name)
    if key_name is not None:
        df = keyed(df, name, key_name)
    return df


def load_table(spark: SparkSession, bucket: str, name: str,
               key_name: str | None = None,
               lookups: list | None = None,
               schema: T.StructType | None = None) -> DataFrame:
    """S4: compose load_text + parse + namespace (+ broadcast lookups).

    Mirrors the loadTable overloads (MusicBrainzTransforms.java:307-338):
    the variant with LookupDescriptions decodes FK columns against small
    dimension tables via broadcast join (see operators.joins.lookup).
    """
    df = load_table_from_text(spark, table_path(bucket, name), name, key_name, schema)
    if lookups:
        from bqetl_spark.operators.joins import apply_lookups

        df = apply_lookups(spark, bucket, df, name, lookups)
    return df
