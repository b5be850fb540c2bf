"""Seeded input generators for the benchmark workloads.

Two input families, both a pure function of ``seed``:

- ``make_star``: the TPC-H-ish star schema plus ``events`` and
  ``documents``, in the column layout the gates in ``__spark_entry__``
  read (one parquet file per table). Documents carry planted near-duplicate
  families so the near-dup gates find real pairs.
- ``make_musicbrainz``: MusicBrainz-shaped NDJSON exports (``artist``,
  ``artist_credit_name``, ``recording``, ``area``, ``gender``) in the
  shapes FIXTURES.md records, for the paper's own ETL pipelines. It plants
  null fields, area/gender foreign keys missing from their dimension (the
  stringified-id lookup fallback) and a few artists with more than 1000
  nested children (the ``split_repeated`` row split).

Row counts are fixed per call; only values depend on the seed, so every
seed costs the same work.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
    "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN",
    "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA",
    "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES",
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = [
    "a", "the", "key", "agg", "row", "scan", "slow", "fast", "table", "value",
    "part", "hash", "batch", "window", "spark", "order", "data", "column",
    "join", "small", "big", "line", "customer", "query", "filter", "merge",
    "sort", "index", "shuffle", "stage", "plan", "cache", "spill", "task",
]

# Star-schema row counts (about TPC-H scale factor 0.01).
STAR_ROWS = {"customer": 1500, "orders": 15000, "lineitem": 60000,
             "events": 10000, "documents": 600}
# MusicBrainz row counts: artist count, then ratios from the full export
# (1.25 credit rows and 9.4 recordings per artist).
MB_ARTISTS = 4000
HOT_ARTISTS = 3          # artists given more than 1000 nested children
HOT_CHILDREN = (1100, 1600)

_EPOCH_1992 = np.datetime64("1992-01-01T00:00:00", "us")
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
_DAY_US = 86_400_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, n, span_days):
    return _EPOCH_1992 + rng.integers(0, span_days, n) * _DAY_US


def _documents(rng, n):
    texts: list[str] = []
    for i in range(n):
        family = rng.random()
        if i > 20 and family < 0.12:
            # near-duplicate of an earlier document: exact copy plus one
            # appended word, or one/three substituted words
            words = texts[int(rng.integers(0, i))].split(" ")
            if family < 0.04:
                words = words + [VOCAB[int(rng.integers(0, len(VOCAB)))]]
            else:
                for _ in range(1 if family < 0.08 else 3):
                    words[int(rng.integers(0, len(words)))] = \
                        VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[j] for j in
                     rng.integers(0, len(VOCAB), int(rng.integers(10, 90)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def make_star(out_dir: str, seed: int) -> dict[str, int]:
    """Write the star tables under ``out_dir``; returns rows per table."""
    rng = np.random.default_rng([seed, 1])
    n_c, n_o, n_l, n_e, n_d = (STAR_ROWS[k] for k in
                               ("customer", "orders", "lineitem", "events",
                                "documents"))
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": NATIONS,
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_c), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
            "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_c)]}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[j]
                              for j in rng.integers(0, 3, n_o)],
            "o_totalprice": _money(rng, 900.0, 500000.0, n_o),
            "o_orderdate": pa.array(_days(rng, n_o, 3650), pa.timestamp("us")),
            "o_orderpriority": [PRIORITIES[j]
                                for j in rng.integers(0, 5, n_o)]}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_o, n_l), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 2000, n_l), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 100, n_l), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 100000.0, n_l),
            "l_discount": np.round(rng.integers(0, 11, n_l) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_l) / 100.0, 2),
            "l_returnflag": [("A", "N", "R")[j]
                             for j in rng.integers(0, 3, n_l)],
            "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n_l)],
            "l_shipdate": pa.array(_days(rng, n_l, 3650), pa.timestamp("us"))}),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_e), pa.int64()),
            # strictly increasing, ~3 minutes apart, microsecond precision
            "ts": pa.array(_EPOCH_2024 + np.cumsum(
                rng.integers(1, 360_000_000, n_e)), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, n_e), pa.int64()),
            "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n_e)],
            "value": np.round(rng.exponential(40.0, n_e) + 0.01, 2),
            "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_e)]}),
        "documents": _documents(rng, n_d),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def _ts(rng, n) -> list[str]:
    """ISO-8601 strings with a UTC offset, microsecond precision."""
    t = np.datetime64("2010-01-01T00:00:00", "us") + \
        rng.integers(0, 8 * 365 * _DAY_US, n)
    return [f"{x}+00:00" for x in np.datetime_as_string(t, unit="us")]


def _gid(rng, n) -> list[str]:
    out = []
    for h in (bytes(r).hex() for r in rng.integers(0, 256, (n, 16), np.uint8)):
        out.append(f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}")
    return out


def _ints(rng, lo, hi, n, p_null=0.0) -> list:
    """Integers in [lo, hi); each is None with probability ``p_null``."""
    vals = rng.integers(lo, hi, n).tolist()
    nulls = rng.random(n) < p_null
    return [None if z else v for v, z in zip(vals, nulls)]


def _names(rng, n, words) -> list[str]:
    idx = rng.integers(0, len(VOCAB), (n, words))
    return [" ".join(VOCAB[j] for j in row) for row in idx]


def make_musicbrainz(out_dir: str, seed: int,
                     n_artists: int = MB_ARTISTS) -> dict[str, int]:
    """Write the five NDJSON exports under ``out_dir`` (``<table>.json``);
    returns rows per table plus ``<table>_bytes``."""
    rng = np.random.default_rng([seed, 2])
    n_area, n = 200, n_artists
    artist_ids = (600_000 + np.arange(n) * 7).tolist()
    names = _names(rng, n, 2)
    lu = _ts(rng, n)
    artist = {
        "id": artist_ids, "gid": _gid(rng, n),
        "name": [x.title() for x in names], "sort_name": names,
        "begin_date_year": _ints(rng, 1900, 2010, n, 0.3),
        "begin_date_month": _ints(rng, 1, 13, n, 0.4),
        "begin_date_day": _ints(rng, 1, 29, n, 0.5),
        "end_date_year": _ints(rng, 1950, 2016, n, 0.9),
        "end_date_month": [None] * n, "end_date_day": [None] * n,
        "type": _ints(rng, 1, 4, n, 0.2),
        # ids above n_area are missing from `area` -> stringified id;
        # gender 4 is missing from `gender`
        "area": _ints(rng, 1, n_area + 30, n, 0.15),
        "gender": _ints(rng, 1, 5, n, 0.3),
        "comment": [""] * n, "edits_pending": _ints(rng, 0, 3, n),
        "last_updated": [None if z else t
                         for t, z in zip(lu, rng.random(n) < 0.05)],
        "ended": (rng.random(n) < 0.1).tolist(),
        "begin_area": _ints(rng, 1, n_area + 30, n, 0.5),
        "end_area": [None] * n,
    }
    # credits: one or two named artists per credit id (1.25 rows/artist)
    credit_ids = (1_400_000 + np.arange(n) * 3).tolist()
    credits: dict[str, list] = {k: [] for k in
                                ("artist_credit", "position", "artist",
                                 "name", "join_phrase")}
    pairs = rng.random(n) < 0.25
    members = rng.integers(0, n, (n, 2))
    feat = rng.random(n) < 0.5
    for i, cid in enumerate(credit_ids):
        k = 2 if pairs[i] else 1
        for pos in range(k):
            a = int(members[i, pos])
            credits["artist_credit"].append(cid)
            credits["position"].append(pos)
            credits["artist"].append(artist_ids[a])
            credits["name"].append(artist["name"][a])
            credits["join_phrase"].append(
                (" feat. " if feat[i] else None) if k > 1 else "")
    # recordings: 9.4 per artist over ordinary credits, plus one solo
    # credit per hot artist carrying more than 1000 recordings
    rec_credit = [credit_ids[j] for j in
                  rng.integers(0, n, int(n * 9.4)).tolist()]
    for h in range(HOT_ARTISTS):
        cid = 2_000_000 + h
        for key, v in (("artist_credit", cid), ("position", 0),
                       ("artist", artist_ids[h]),
                       ("name", artist["name"][h]), ("join_phrase", "")):
            credits[key].append(v)
        rec_credit += [cid] * int(rng.integers(*HOT_CHILDREN))
    m = len(rec_credit)
    lu = _ts(rng, m)
    recording = {
        "id": list(range(17_000_000, 17_000_000 + m)), "gid": _gid(rng, m),
        "name": [x.title() for x in _names(rng, m, 3)],
        "artist_credit": rec_credit,
        "length": _ints(rng, 30_000, 600_000, m, 0.05),
        "comment": [None if z else "live" for z in rng.random(m) < 0.7],
        "edits_pending": _ints(rng, 0, 2, m),
        "last_updated": [None if z else t
                         for t, z in zip(lu, rng.random(m) < 0.05)],
        "video": (rng.random(m) < 0.05).tolist(),
    }
    tables = {
        "area": {"id": list(range(1, n_area + 1)),
                 "name": [f"Area {i}" for i in range(1, n_area + 1)]},
        "gender": {"id": [1, 2, 3], "name": ["Male", "Female", "Other"]},
        "artist": artist, "artist_credit_name": credits,
        "recording": recording,
    }
    os.makedirs(out_dir, exist_ok=True)
    out: dict[str, int] = {}
    for name, cols in tables.items():
        keys = list(cols)
        lines = [json.dumps(dict(zip(keys, vals))) + "\n"
                 for vals in zip(*cols.values())]
        data = "".join(lines).encode()
        with open(os.path.join(out_dir, f"{name}.json"), "wb") as f:
            f.write(data)
        out[name] = len(lines)
        out[f"{name}_bytes"] = len(data)
    return out
