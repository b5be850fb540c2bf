import tempfile

import pytest
from pyspark.sql import functions as F

from bqetl_spark.sources.json_source import load_table_from_text, load_text, namespace_columns


def test_load_text_lines(spark, mb_bucket):
    lines = load_text(spark, mb_bucket, "artist")
    assert lines.count() == 3
    assert lines.columns == ["value"]


def test_namespacing(spark, mb_bucket):
    df = load_table_from_text(spark, f"{mb_bucket}/artist.json", "artist")
    assert all(c.startswith("artist_") for c in df.columns)
    assert "artist_id" in df.columns and "artist_name" in df.columns


def test_null_fields_become_sql_null(spark, mb_bucket):
    # Reference drops JSON-null fields at parse (JSONReader.java:86-94);
    # SQL equivalent: the column is NULL for that row.
    df = load_table_from_text(spark, f"{mb_bucket}/artist.json", "artist")
    row = df.filter(F.col("artist_id") == 1001).first()
    assert row["artist_end_date_year"] is None
    assert row["artist_area"] == 38


def test_keyed_load_long_key(spark, mb_bucket):
    df = load_table_from_text(spark, f"{mb_bucket}/artist_credit_name.json",
                              "artist_credit_name", key_name="artist")
    assert dict(df.dtypes)["artist_credit_name_artist"] == "bigint"
    keys = {r[0] for r in df.select("artist_credit_name_artist").distinct().collect()}
    assert keys == {1001, 1002}


def test_in_memory_lines_source(spark):
    # S6 parity: Create.of(literal lines) (MusicBrainzTransformsTest.java:61-62)
    lines = spark.createDataFrame([('{"id": 7, "name": "x"}',)], ["value"])
    df = load_table_from_text(spark, lines, "t")
    row = df.first()
    assert row["t_id"] == 7 and row["t_name"] == "x"


def test_in_memory_lines_leave_no_spill(spark, tmp_path, monkeypatch):
    # schema inference spills the lines to a temp dir; it must not outlive
    # the call (every gate run used to leave one bqetl_lines_* dir behind)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    lines = spark.createDataFrame([('{"id": 7, "name": "x"}',), (None,)], ["value"])
    for _ in range(2):
        df = load_table_from_text(spark, lines, "t")
        assert [tuple(r) for r in df.collect()] == [(7, "x")]
    assert not list(tmp_path.glob("bqetl_lines_*"))


def test_int_widened_to_long(spark, mb_bucket):
    df = load_table_from_text(spark, f"{mb_bucket}/recording.json", "recording")
    # all JSON ints → long (JSONReader.java:46-51)
    assert dict(df.dtypes)["recording_id"] == "bigint"
    assert dict(df.dtypes)["recording_length"] == "bigint"


def test_malformed_line_yields_null_row_not_drop(spark, tmp_path):
    # Parity: the reference catches parse exceptions and emits an EMPTY
    # object — every downstream field null, row NOT dropped
    # (JSONReader.java:97-100). Spark's PERMISSIVE mode matches: the
    # malformed line becomes an all-null row.
    import pyspark.sql.types as T

    p = tmp_path / "t.json"
    p.write_text('{"id": 1, "name": "ok"}\n{not json at all\n{"id": 2}\n')
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("name", T.StringType())])
    df = load_table_from_text(spark, str(p), "t", schema=schema)
    rows = sorted(df.collect(), key=lambda r: (r["t_id"] is None, r["t_id"]))
    assert len(rows) == 3
    assert rows[0]["t_id"] == 1 and rows[0]["t_name"] == "ok"
    assert rows[1]["t_id"] == 2 and rows[1]["t_name"] is None
    assert rows[2]["t_id"] is None and rows[2]["t_name"] is None


def test_csv_loader_namespaced_and_keyed(spark, tmp_path):
    import pyspark.sql.types as T

    from bqetl_spark.sources.csv_source import load_csv_table

    p = tmp_path / "t.csv"
    p.write_text("id,name,bal\n1,alpha,10.5\n2,beta,-3.25\nnotanum,gamma,0\n")
    schema = T.StructType([T.StructField("id", T.StringType()),
                           T.StructField("name", T.StringType()),
                           T.StructField("bal", T.DoubleType())])
    df = load_csv_table(spark, str(p), "t", schema=schema, key_name="id")
    assert dict(df.dtypes)["t_id"] == "bigint"  # keyed → long try_cast
    rows = {r["t_name"]: r for r in df.collect()}
    assert rows["alpha"]["t_id"] == 1 and rows["alpha"]["t_bal"] == 10.5
    assert rows["gamma"]["t_id"] is None  # bad key → NULL, not an error


# --- custom Python DataSource (r6, Spark 4 DataSource API) -------------


def test_pyds_partition_per_shard_and_coercion(spark, tmp_path):
    """One InputPartition per shard file; schema-driven coercion with
    try_cast-to-NULL semantics; JSON null / absent / nested all read as
    SQL NULL (the reference's JSONReader contract)."""
    import json

    from pyspark.sql import types as T

    from bqetl_spark.sources import pyds

    pyds.register(spark)
    d = tmp_path / "shards"
    d.mkdir()
    rows = [
        {"id": 1, "name": "a", "x": 1.5, "ok": True},
        {"id": 2, "name": None, "nested": {"k": 1}},   # null + nested
        {"id": "bad", "name": "c"},                     # uncastable id
        {"id": 4, "name": 7, "ok": "yes"},              # name stringified,
                                                        # ok not bool->NULL
    ]
    for i, chunk in enumerate([rows[:2], rows[2:]]):
        with open(d / f"s{i}.json", "w") as fh:
            for r in chunk:
                fh.write(json.dumps(r) + "\n")
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("name", T.StringType()),
                           T.StructField("x", T.DoubleType()),
                           T.StructField("ok", T.BooleanType())])
    df = spark.read.format("bqetl_ndjson").schema(schema).load(str(d))
    assert df.rdd.getNumPartitions() == 2
    got = sorted((tuple(r) for r in df.collect()),
                 key=lambda t: (t[0] is None, t[0]))
    assert got == [(1, "a", 1.5, True), (2, None, None, None),
                   (4, "7", None, None), (None, "c", None, None)]


def test_pyds_requires_schema_and_path(spark, tmp_path):
    import pytest

    from bqetl_spark.sources import pyds

    pyds.register(spark)
    with pytest.raises(Exception, match="explicit .schema"):
        spark.read.format("bqetl_ndjson").load(str(tmp_path)).collect()
    from pyspark.sql import types as T
    schema = T.StructType([T.StructField("id", T.LongType())])
    empty = tmp_path / "none"
    empty.mkdir()
    with pytest.raises(Exception, match="no NDJSON shards"):
        spark.read.format("bqetl_ndjson").schema(schema) \
            .load(str(empty)).collect()


def test_pyds_nonintegral_float_is_null(spark, tmp_path):
    """ADVICE r6: a JSON number 3.7 declared BIGINT must read as NULL
    (try_cast discipline), not truncate to 3; integral floats like 4.0
    still coerce; inf/NaN are NULL."""
    import json

    from pyspark.sql import types as T

    from bqetl_spark.sources import pyds

    pyds.register(spark)
    d = tmp_path / "s"
    d.mkdir()
    with open(d / "a.json", "w") as fh:
        for r in [{"id": 3.7}, {"id": 4.0}, {"id": 5},
                  {"id": 1e400}]:  # 1e400 serializes as Infinity? no —
            # json.dumps(1e400) emits 'Infinity' (non-std); keep it to pin
            # the OverflowError -> NULL path on parse-able inf
            fh.write(json.dumps(r) + "\n")
    schema = T.StructType([T.StructField("id", T.LongType())])
    df = spark.read.format("bqetl_ndjson").schema(schema).load(str(d))
    got = sorted((r["id"] for r in df.collect()),
                 key=lambda v: (v is None, v))
    assert got == [4, 5, None, None]


def test_pyds_filter_pushdown_matches_post_filter(spark, tmp_path):
    """r7 pushFilters: the pushed conjunction must produce the identical
    result to Spark evaluating the same predicates post-scan — including
    three-valued logic on NULLs — and the scan must actually accept the
    filters (no rows failing them cross the boundary)."""
    import json

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from bqetl_spark.sources import pyds

    pyds.register(spark)
    d = tmp_path / "s"
    d.mkdir()
    rows = [
        {"id": 1, "lang": "en", "n": 10},
        {"id": 2, "lang": "en", "n": None},    # NULL n -> dropped by n>=5
        {"id": 3, "lang": None, "n": 50},      # NULL lang -> dropped
        {"id": 4, "lang": "fr", "n": 50},
        {"id": 5, "lang": "en", "n": 5},
        {"id": 6, "lang": "en", "n": 4},
    ]
    with open(d / "a.json", "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("lang", T.StringType()),
                           T.StructField("n", T.LongType())])
    df = (spark.read.format("bqetl_ndjson").schema(schema).load(str(d))
          .where((F.col("lang") == "en") & (F.col("n") >= 5)
                 & F.col("id").isin(1, 2, 5, 6) & F.col("n").isNotNull()))
    assert sorted(r["id"] for r in df.collect()) == [1, 5]
    # fully-accepted conjunction: Spark drops the post-scan Filter node
    # entirely, so the reader's three-valued logic is load-bearing
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Filter (" not in plan, plan  # FilterExec prints "Filter (...)"


def test_pyds_pushdown_unsupported_filter_returned(spark, tmp_path):
    """Filters the reader can't handle (e.g. on a boolean column, or
    string LIKE) must be returned to Spark and still applied — the
    result is correct either way."""
    import json

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from bqetl_spark.sources import pyds

    pyds.register(spark)
    d = tmp_path / "s"
    d.mkdir()
    with open(d / "a.json", "w") as fh:
        for r in [{"id": 1, "ok": True, "s": "abc"},
                  {"id": 2, "ok": False, "s": "abd"},
                  {"id": 3, "ok": True, "s": "xyz"}]:
            fh.write(json.dumps(r) + "\n")
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("ok", T.BooleanType()),
                           T.StructField("s", T.StringType())])
    df = (spark.read.format("bqetl_ndjson").schema(schema).load(str(d))
          .where(F.col("ok") & F.col("s").startswith("ab")))
    assert sorted(r["id"] for r in df.collect()) == [1]


def test_declared_string_read_float_in_integer_field_is_null(spark, tmp_path):
    """The one documented departure of the all-string read schemas: a
    float in a field declared INTEGER reads as its JSON text, which
    try_cast turns into NULL (an all-float column used to be inferred as
    double and truncated)."""
    from pyspark.sql import types as T

    from bqetl_spark.operators.project import project_to_schema
    from bqetl_spark.sources.json_source import string_schema

    p = tmp_path / "f.json"
    p.write_text('{"n": 1.0}\n{"n": 2.5}\n{"n": "3"}\n')
    df = load_table_from_text(spark, str(p), "f", schema=string_schema(["n"]))
    out = project_to_schema(df, T.StructType([T.StructField("f_n", T.LongType())]))
    assert sorted((r[0] for r in out.collect()), key=lambda v: (v is None, v)) \
        == [3, None, None]


# --- parquet schema memo -------------------------------------------------


@pytest.fixture
def fresh_memo(monkeypatch):
    from collections import OrderedDict

    from bqetl_spark.sources import parquet_source

    monkeypatch.setattr(parquet_source, "_memo", OrderedDict())
    return parquet_source


def test_parquet_schema_memo_skips_footer_jobs_until_overwrite(
        spark, tmp_path, fresh_memo):
    from bqetl_spark.sources.parquet_source import load_parquet_table
    from tests.conftest import spark_jobs

    path = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1, "a")], "id bigint, x string").write.parquet(path)
    assert spark_jobs(spark, lambda: load_parquet_table(spark, str(tmp_path), "t")) >= 1
    assert spark_jobs(spark, lambda: load_parquet_table(spark, str(tmp_path), "t")) == 0

    spark.createDataFrame([(2, "b", 9.5)], "id bigint, x string, score double") \
        .write.mode("overwrite").parquet(path)
    df = load_parquet_table(spark, str(tmp_path), "t")
    assert df.columns == ["id", "x", "score"]
    assert [tuple(r) for r in df.collect()] == [(2, "b", 9.5)]


def test_parquet_schema_memo_is_bounded(spark, tmp_path, fresh_memo, monkeypatch):
    monkeypatch.setattr(fresh_memo, "SCHEMA_MEMO_MAX", 2)
    for i in range(4):
        path = str(tmp_path / f"t{i}.parquet")
        spark.createDataFrame([(i,)], "id bigint").write.parquet(path)
        assert fresh_memo.parquet_schema(spark, path).fieldNames() == ["id"]
    assert len(fresh_memo._memo) == 2
    # least recently used out first: the last two paths stay
    assert [k[0] for k in fresh_memo._memo] == [
        str(tmp_path / "t2.parquet"), str(tmp_path / "t3.parquet")]


def test_star_gates_leave_parquet_confs_as_found(spark, fresh_memo):
    """Reading the star tables sets the two parquet inference confs only
    while a schema is inferred; a session's own values survive both a
    batch gate (denorm_flat) and a streaming one (stream_kmv)."""
    import __spark_entry__ as em
    from tests.conftest import SF_DIR

    keys = tuple(fresh_memo.INFER_CONF)
    saved = {k: spark.conf.get(k, None) for k in keys}
    # the opposite of what inference needs, so a leak would show
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    try:
        before = {k: spark.conf.getAll.get(k) for k in keys}
        qs = em.queries()
        for name in ("denorm_flat", "stream_kmv"):
            assert qs[name](spark, SF_DIR).count() > 0
            assert {k: spark.conf.getAll.get(k) for k in keys} == before, name
        assert before == {"spark.sql.legacy.parquet.nanosAsLong": None,
                          "spark.sql.parquet.inferTimestampNTZ.enabled": "true"}
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
