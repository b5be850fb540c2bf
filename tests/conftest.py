"""Shared fixtures.

The reference's golden tests use tiny NDJSON fixtures (artist ×1,
artist_credit_name ×79, recording ×960 → 448 joined rows,
MusicBrainzTransformsTest.java:115). Its fixture files are not copied here;
instead we synthesize analog fixtures with the same *invariants* (known join
cardinality, lookup decode + stringified-id fallback, childless parent,
nesting-limit overflow) at a smaller size — see FIXTURES.md.
"""

from __future__ import annotations

import json
import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from bqetl_spark.session import get_spark

    s = get_spark("bqetl_spark_tests", master="local[4]",
                  extra_conf={"spark.sql.shuffle.partitions": "4",
                              "spark.driver.memory": "8g"})
    yield s
    s.stop()


def spark_jobs(spark, fn) -> int:
    """How many Spark jobs ``fn()`` starts on this thread."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for k in ("spark.jobGroup.id", "spark.job.description",
                  "spark.job.interruptOnCancel"):
            sc.setLocalProperty(k, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


# ---- MusicBrainz-analog fixture bucket ------------------------------------

ARTISTS = [
    # artist 1001: all FKs set; begin_area 29450 is absent from the area dim
    # → exercises the stringified-id fallback (MusicBrainzTransforms.java:488-494)
    {"id": 1001, "gid": "g-1001", "name": "Artist One", "sort_name": "One, Artist",
     "begin_date_year": 1990, "begin_date_month": 3, "begin_date_day": 1,
     "end_date_year": None, "end_date_month": None, "end_date_day": None,
     "type": 1, "area": 38, "gender": 1, "comment": "",
     "edits_pending": 0, "last_updated": "2016-03-27T21:04:19.254165+00:00",
     "ended": False, "begin_area": 29450, "end_area": None},
    # artist 1002: null area → lookup must keep NULL (not fallback)
    {"id": 1002, "gid": "g-1002", "name": "Artist Two", "sort_name": "Two, Artist",
     "type": 1, "area": None, "gender": 2, "comment": "x",
     "edits_pending": 1, "last_updated": "2015-07-07T17:28:49.078568+00:00",
     "ended": True},
    # artist 1003: no credits at all → childless parent in nest()
    {"id": 1003, "gid": "g-1003", "name": "Artist Three", "sort_name": "Three, Artist",
     "area": 38, "gender": 1, "ended": False},
]

AREAS = [{"id": 38, "name": "Canada"}, {"id": 100, "name": "Norway"}]
GENDERS = [{"id": 1, "name": "Male"}, {"id": 2, "name": "Female"}]

# artist_credit → artist mapping and fan-out design:
#   credit 2001 (artist 1001): 2 credit rows × 3 recordings = 6 join rows
#   credit 2002 (artist 1001): 1 credit row  × 5 recordings = 5
#   credit 2003 (artist 1002): 1 credit row  × 4 recordings = 4
#   credit 2004 (artist 1002): 1 credit row  × 0 recordings = 0 (drops in J1)
# → inner join total 15; nest: artist 1001 ← 11 children, 1002 ← 4, 1003 ← 0.
CREDITS = [
    {"artist_credit": 2001, "position": 0, "artist": 1001, "name": "Artist One", "join_phrase": ""},
    {"artist_credit": 2001, "position": 1, "artist": 1001, "name": "One feat.", "join_phrase": " feat. "},
    {"artist_credit": 2002, "position": 0, "artist": 1001, "name": "Artist One", "join_phrase": ""},
    {"artist_credit": 2003, "position": 0, "artist": 1002, "name": "Artist Two", "join_phrase": ""},
    {"artist_credit": 2004, "position": 0, "artist": 1002, "name": "Artist Two", "join_phrase": ""},
]

RECORDINGS = (
    [{"id": 50000 + i, "gid": f"r-{i}", "name": f"Song {i}", "artist_credit": 2001,
      "length": 180000 + i, "comment": "", "edits_pending": 0,
      "last_updated": "2015-07-07T17:28:49.078568+00:00", "video": False}
     for i in range(3)]
    + [{"id": 51000 + i, "gid": f"r2-{i}", "name": f"Tune {i}", "artist_credit": 2002,
        "length": 200000 + i, "video": bool(i % 2)} for i in range(5)]
    + [{"id": 52000 + i, "gid": f"r3-{i}", "name": f"Track {i}", "artist_credit": 2003,
        "length": None, "video": False} for i in range(4)]
    # orphan recording: artist_credit with no credit row → drops in inner join
    + [{"id": 59999, "gid": "r-orphan", "name": "Orphan", "artist_credit": 9999}]
)

EXPECTED_JOIN_ROWS = 15
EXPECTED_CHILDREN = {1001: 11, 1002: 4, 1003: 0}


def _write_ndjson(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


@pytest.fixture(scope="session")
def docs_df(spark):
    """sf0.001 documents table — the corpus the pure-Python tokenizer
    references in test_unigram.py replicate (they hard-code sf0.001, so
    this fixture pins the same scale regardless of SPARK_GRAFT_TEST_SF_DIR)."""
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


@pytest.fixture(scope="session")
def mb_bucket(tmp_path_factory):
    """A local 'bucket' directory of NDJSON table files, shaped like the
    reference's GCS input (one {table}.json per table)."""
    d = tmp_path_factory.mktemp("mb_bucket")
    _write_ndjson(d / "artist.json", ARTISTS)
    _write_ndjson(d / "area.json", AREAS)
    _write_ndjson(d / "gender.json", GENDERS)
    _write_ndjson(d / "artist_credit_name.json", CREDITS)
    _write_ndjson(d / "recording.json", RECORDINGS)
    return str(d)
