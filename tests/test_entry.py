"""Pre-flight for the driver's correctness gate: every queries() entry with
an oracle must hash-match DuckDB on the same parquet data."""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entry_mod
from tests.oracle_harness import compare, duck_connection, first_diff

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.001")

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()

# Builders are side-effectful (streaming gates run bounded replays, the
# roundtrip gates write temp dirs) — build each gate's DataFrame ONCE and
# share it across the oracle / rows-only / scalar-lint tests instead of
# re-running the replica work per parametrized test (code-review r6).
_DF_CACHE: dict[str, object] = {}


def _gate_df(spark, name):
    if name not in _DF_CACHE:
        _DF_CACHE[name] = QUERIES[name](spark, SF_DIR)
    return _DF_CACHE[name]


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_DIR)
    yield con
    con.close()


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


def test_all_oracle_keys_have_queries():
    assert set(ORACLES) <= set(QUERIES)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_match(spark, duck, name):
    df = _gate_df(spark, name)
    res = compare(df, duck, ORACLES[name])
    if not res["hash_match"]:
        diff = first_diff(QUERIES[name](spark, SF_DIR), duck, ORACLES[name])
        pytest.fail(f"{name}: {res}\ndiff: {diff}")


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    df = _gate_df(spark, name)
    assert df.count() >= 0


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_gate_outputs_are_scalar(spark, name):
    """Driver-canonicalizer contract: gate outputs must be scalar columns
    only. The r5 driver run ERRed five gates whose outputs carried
    array<double> cells — pandas sort_values raises `unhashable type:
    'list'` in the driver's hasher (the local harness canonicalizes lists,
    which is exactly how the gap shipped). This lint closes the class:
    every queries() entry must posexplode/flatten complex values."""
    from pyspark.sql import types as T

    df = _gate_df(spark, name)
    bad = [f"{f.name}: {f.dataType.simpleString()}" for f in df.schema.fields
           if isinstance(f.dataType, (T.ArrayType, T.StructType, T.MapType))]
    assert not bad, (f"{name} returns non-scalar column(s) {bad}; the "
                     "driver canonicalizer cannot hash these — scalarize "
                     "(posexplode / per-component columns)")


def test_later_correctness_round_does_not_reorder_queries(tmp_path):
    """queries() orders the gates at call time from the CORRECTNESS_r*
    history; a round-end artifact of a round after ROUND_HEAD's cut must
    not reorder the driver window mid-round."""
    import glob
    import json
    import shutil

    for path in glob.glob(os.path.join(entry_mod.REPO, "CORRECTNESS_r*.json")):
        shutil.copy(path, tmp_path)
    gates = list(QUERIES)
    later = {g: {"hash_match": True} for g in gates[50:]}
    (tmp_path / "CORRECTNESS_r99.json").write_text(json.dumps(later))

    assert entry_mod.gate_history(str(tmp_path), through_round=99) != \
        entry_mod.gate_history()
    history = entry_mod.gate_history(str(tmp_path))
    assert history == entry_mod.gate_history()
    assert entry_mod.compute_order(gates, history,
                                   **entry_mod.ROUND_HEAD) == gates


def test_duplicate_gate_name_is_rejected():
    from bqetl_spark.gates import gate, registry

    before = dict(registry())

    def q_denorm_flat(spark, sf_dir):
        raise AssertionError("never built")

    with pytest.raises(ValueError, match="denorm_flat"):
        gate(oracle="SELECT 1")(q_denorm_flat)
    assert registry() == before


def test_gate_builders_leave_no_scratch_behind(spark, tmp_path, monkeypatch):
    """A streaming gate (memory-sink replay) and a round-trip gate (table
    written to scratch and read back), each built twice: no memory-sink
    view stays registered, and the round trip reuses one scratch dir."""
    import tempfile

    from bqetl_spark.caching import release_pinned

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    for name in ("stream_events_hourly", "orc_roundtrip") * 2:
        assert QUERIES[name](spark, SF_DIR).count() > 0
        release_pinned()

    views = [t.name for t in spark.catalog.listTables()
             if t.name.startswith("__stream_gate_")]
    assert views == []
    assert os.listdir(tmp_path) == ["bqetl_scratch"]
    assert len(os.listdir(tmp_path / "bqetl_scratch")) == 1


def test_stream_gates_leave_unset_shuffle_partitions_unset(spark):
    """The memory-sink replay pins spark.sql.shuffle.partitions only while
    the stream runs; on a session that never set the key, it stays unset
    (not an explicit 200) after a streaming gate."""
    from bqetl_spark.caching import release_pinned

    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key, None)
    spark.conf.unset(key)
    try:
        assert QUERIES["stream_events_hourly"](spark, SF_DIR).count() > 0
        assert key not in spark.conf.getAll
    finally:
        release_pinned()
        if saved is not None:
            spark.conf.set(key, saved)
