import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bqetl_spark.plans.etl_nested import bqetl_nested, nested_output_schema
from bqetl_spark.plans.etl_simple import bqetl_simple, simple_output_schema
from bqetl_spark.sources import json_source
from tests.conftest import EXPECTED_JOIN_ROWS, _write_ndjson


def _names_types(schema):
    # Spark does not carry REQUIRED through select/cast; compare name+type.
    return [(f.name, f.dataType) for f in schema.fields]


def test_simple_end_to_end(spark, mb_bucket):
    out = bqetl_simple(spark, mb_bucket)
    assert out.count() == EXPECTED_JOIN_ROWS
    assert _names_types(out.schema) == _names_types(simple_output_schema(False))
    # without lookups the FK columns stay integers
    assert isinstance(out.schema["artist_area"].dataType, T.LongType)


def test_simple_with_lookups(spark, mb_bucket):
    out = bqetl_simple(spark, mb_bucket, perform_lookups=True)
    assert out.count() == EXPECTED_JOIN_ROWS
    assert isinstance(out.schema["artist_area"].dataType, T.StringType)
    vals = {r["artist_area"] for r in out.select("artist_area").distinct().collect()}
    assert "Canada" in vals
    genders = {r["artist_gender"] for r in out.select("artist_gender").distinct().collect()}
    assert genders <= {"Male", "Female", None}


def test_simple_timestamp_parsed(spark, mb_bucket):
    out = bqetl_simple(spark, mb_bucket)
    assert isinstance(out.schema["artist_last_updated"].dataType, T.TimestampType)
    row = out.filter(F.col("artist_id") == 1001).first()
    assert row["artist_last_updated"] is not None
    assert row["artist_last_updated"].year == 2016


def test_nested_end_to_end(spark, mb_bucket):
    out = bqetl_nested(spark, mb_bucket)
    rows = {r["artist_id"]: r for r in out.collect()}
    assert set(rows) == {1001, 1002, 1003}
    assert len(rows[1001]["artist_recordings"]) == 11
    assert len(rows[1003]["artist_recordings"]) == 0
    assert rows[1001]["artist_area"] == "Canada"
    assert _names_types(out.schema) == _names_types(nested_output_schema())


def test_nested_respects_nesting_limit(spark, mb_bucket):
    out = bqetl_nested(spark, mb_bucket, nesting_limit=5)
    rows = out.filter(F.col("artist_id") == 1001).collect()
    sizes = sorted(len(r["artist_recordings"]) for r in rows)
    assert sizes == [1, 5, 5]  # 11 children split at 5


# --- declared read schemas == the inference path -------------------------

# Rows that make inference pick a type other than the output's: an unknown
# field, an all-null field (type), a non-numeric string in a numeric field
# (edits_pending), quoted numbers (length, position) and quoted keys
# (artist id, credit artist, recording artist_credit, area id), plus a
# string boolean (ended).
MIXED = {
    "artist": [
        {"id": 1, "gid": "a", "name": "A", "sort_name": "A", "type": None,
         "area": 10, "begin_area": 99, "gender": 1, "edits_pending": 3,
         "ended": False, "last_updated": "2016-03-27T21:04:19.254165+00:00",
         "rating": {"votes": 2}},
        {"id": "2", "gid": "b", "name": "B", "type": None, "area": "11",
         "gender": 2, "edits_pending": "n/a", "ended": "true",
         "begin_date_year": "1990", "mood": "x"},
    ],
    "artist_credit_name": [
        {"artist_credit": 20, "position": 0, "artist": 1, "name": "A",
         "join_phrase": ""},
        {"artist_credit": "21", "position": "1", "artist": "2", "name": 7},
    ],
    "recording": [
        {"id": 300, "gid": "r0", "name": "S0", "artist_credit": 20,
         "length": 1000, "video": False, "unknown": [1, 2]},
        {"id": 301, "gid": "r1", "name": "S1", "artist_credit": "21",
         "length": "2000", "video": "true"},
        {"id": "x302", "gid": "r2", "name": "S2", "artist_credit": 21,
         "length": "long", "video": True, "comment": None},
    ],
    "area": [{"id": 10, "name": "Canada"}, {"id": "11", "name": "Norway"}],
    "gender": [{"id": 1, "name": "Male"}, {"id": 2, "name": None}],
}


@pytest.fixture(scope="module")
def mixed_bucket(tmp_path_factory):
    d = tmp_path_factory.mktemp("mixed_bucket")
    for table, rows in MIXED.items():
        _write_ndjson(d / f"{table}.json", rows)
    return str(d)


def _written(spark, df, path):
    from bqetl_spark.sources.sinks import write_parquet

    write_parquet(df, path)
    back = spark.read.parquet(path)

    def canon(v):  # children with equal position have no fixed order
        return sorted(map(repr, v)) if isinstance(v, list) else v

    return back.schema, sorted(
        repr({k: canon(v) for k, v in r.asDict(recursive=True).items()})
        for r in back.collect())


PIPELINES = {
    "simple": lambda s, b: bqetl_simple(s, b),
    "simple_lookups": lambda s, b: bqetl_simple(s, b, perform_lookups=True),
    "nested": lambda s, b: bqetl_nested(s, b),
}


@pytest.mark.parametrize("name", sorted(PIPELINES))
def test_declared_read_schemas_write_what_inference_wrote(
        spark, mixed_bucket, tmp_path, monkeypatch, name):
    build = PIPELINES[name]
    declared = _written(spark, build(spark, mixed_bucket), str(tmp_path / "d"))
    # every declared read schema comes from string_schema: with it
    # returning None, each table and dimension is read by inference
    monkeypatch.setattr(json_source, "string_schema", lambda names: None)
    inferred = _written(spark, build(spark, mixed_bucket), str(tmp_path / "i"))
    assert declared == inferred
    assert declared[1], "the fixture must join to at least one row"


def test_declared_read_schemas_cover_only_used_fields():
    from bqetl_spark.plans.etl_nested import nested_read_schemas
    from bqetl_spark.plans.etl_simple import simple_read_schemas

    simple = simple_read_schemas(True)
    assert "credit_name_name" not in simple["artist"].fieldNames()
    assert {"artist", "artist_credit"} <= set(
        simple["artist_credit_name"].fieldNames())
    nested = nested_read_schemas()
    assert "recordings" not in nested["artist"].fieldNames()
    assert "artist_credit" in nested["recording"].fieldNames()
    for schemas in (simple, nested):
        for s in schemas.values():
            assert {f.dataType for f in s.fields} == {T.StringType()}
