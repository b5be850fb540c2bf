"""Self-tests for the benchmark (no SparkSession needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import datagen  # noqa: E402
import expected as ex  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _digest(path: str) -> dict[str, str]:
    return {f: hashlib.sha256(open(os.path.join(path, f), "rb").read()).hexdigest()
            for f in sorted(os.listdir(path))}


@pytest.fixture(scope="module")
def mb(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("mb"))
    datagen.make_musicbrainz(d, 7, n_artists=300)
    return d


def test_musicbrainz_generator_is_byte_deterministic(tmp_path, mb):
    datagen.make_musicbrainz(str(tmp_path / "a"), 7, n_artists=300)
    datagen.make_musicbrainz(str(tmp_path / "b"), 8, n_artists=300)
    assert _digest(str(tmp_path / "a")) == _digest(mb)
    assert _digest(str(tmp_path / "b")) != _digest(mb)


def test_star_generator_is_deterministic(tmp_path):
    rows = datagen.make_star(str(tmp_path / "a"), 3)
    assert rows == datagen.make_star(str(tmp_path / "b"), 3)
    datagen.make_star(str(tmp_path / "c"), 4)
    for t in rows:
        a = pq.read_table(str(tmp_path / "a" / f"{t}.parquet"))
        assert a.equals(pq.read_table(str(tmp_path / "b" / f"{t}.parquet")))
    c = pq.read_table(str(tmp_path / "c" / "lineitem.parquet"))
    assert not c.equals(pq.read_table(str(tmp_path / "a" / "lineitem.parquet")))


def test_musicbrainz_plants_fallbacks_and_split(mb):
    con = ex.mb_connection(mb, 1)
    missing = con.sql("SELECT count(*) FROM artist a LEFT JOIN area ar "
                      "ON a.area = ar.id WHERE a.area IS NOT NULL "
                      "AND ar.id IS NULL").fetchone()[0]
    nulls = con.sql("SELECT count(*) FROM artist WHERE gender IS NULL"
                    ).fetchone()[0]
    widest = con.sql("SELECT max(n) FROM (SELECT c.artist, count(*) AS n "
                     "FROM artist_credit_name c JOIN recording r "
                     "ON c.artist_credit = r.artist_credit GROUP BY 1)"
                     ).fetchone()[0]
    assert missing > 0 and nulls > 0 and widest > 1000


def test_metric_names_and_units_follow_the_contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.E2E_UNITS
    assert layer == run.LAYER_UNITS
    names = [w["name"] for w in bench["workloads"]] + list(e2e) + list(layer)
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) for n in names)
    assert all(UNIT.fullmatch(u) for u in list(e2e.values()) + list(layer.values()))
    assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS)


def _pipeline_output(con, schema, lookups: bool, path: str) -> None:
    """What bqetl_simple writes, produced by DuckDB instead of Spark."""
    cols = ", ".join(
        f"{ex._source(f.name) if lookups or f.name not in ex.LOOKUPS else 'a.' + ex.LOOKUPS[f.name][1]}"
        f" AS {f.name}" for f in schema.fields)
    con.execute(f"COPY (SELECT {cols} FROM artist a "
                f"JOIN artist_credit_name c ON a.id = c.artist "
                f"JOIN recording r ON c.artist_credit = r.artist_credit"
                f"{ex._LOOKUP_JOINS if lookups else ''}) "
                f"TO '{path}/part-0.parquet' (FORMAT PARQUET)")


def test_output_check_rejects_a_perturbed_row(tmp_path, mb):
    from bqetl_spark.plans.etl_simple import simple_output_schema

    schema = simple_output_schema(True)
    con = ex.mb_connection(mb, 1)
    good, bad = tmp_path / "good", tmp_path / "bad"
    good.mkdir(), bad.mkdir()
    _pipeline_output(con, schema, True, str(good))
    want = ex.simple_expected(con, schema, True)
    assert ex.simple_observed(con, schema, str(good)) == want
    con.execute(f"COPY (SELECT * REPLACE (CASE WHEN recording_id = "
                f"(SELECT min(recording_id) FROM '{good}/*.parquet') "
                f"THEN recording_name || 'x' ELSE recording_name END "
                f"AS recording_name) FROM '{good}/*.parquet') "
                f"TO '{bad}/part-0.parquet' (FORMAT PARQUET)")
    assert ex.simple_observed(con, schema, str(bad)) != want

    rows = [(1, "a", 0.5), (2, "b", 1.5)]
    sig = ex.gate_signature(["id", "s", "x"], rows)
    assert ex.gate_signature(["s", "x", "id"], [(r[1], r[2], r[0]) for r in rows]) == sig
    assert ex.gate_signature(["id", "s", "x"], [(1, "a", 0.5), (2, "b", 1.25)]) != sig
    assert ex.gate_signature(["id", "s", "x"], rows[:1]) != sig


def test_contention_correction_leaves_unstolen_time_alone():
    # ticks: user, nice, system, idle, iowait, irq, softirq, steal
    assert run.uncontended(2.0, [100, 0, 20, 280, 0, 0, 0, 0]) == 2.0
    stolen = [60, 0, 20, 280, 0, 0, 0, 20]  # 20% of the busy vCPU time
    assert run.steal_share(stolen) == pytest.approx(0.2)
    assert run.uncontended(3.0, stolen) == pytest.approx(
        3.0 / (1 + run.STEAL_STRETCH * 0.2))
    # two spans, (0, 1) and (5, 7)
    assert run.tick_delta([0] * 8, [1] * 8, [5] * 8, [7] * 8) == [3] * 8


def test_traced_and_untraced_passes_run_the_same_items(monkeypatch):
    monkeypatch.setattr(
        run.Runner, "run_item",
        lambda self, item, verify: self.calls.append(item.name)
        or {"wall_s": 0.0})
    for w in WORKLOADS.values():
        runs = []
        for tracer in (None, object()):
            r = run.Runner(engine=None, workload=w, dirs={}, tracer=tracer)
            r.calls = []
            r.run_pass(verify=True)
            r.run_pass()
            runs.append(r.calls)
        assert runs[0] == runs[1] == [i.name for i in w.items] * 2
