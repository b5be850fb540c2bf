"""Compression-ratio quality signal: semantics pinned in pytest because
DuckDB cannot replay DEFLATE (the documented rows-only oracle boundary)."""

from __future__ import annotations

import zlib

import pytest

from bqetl_spark.functions.compressibility import compression_ratio


def _rows(spark, texts):
    return spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")


def test_ratio_orders_repetitive_below_normal_below_random(spark):
    rep = "spam " * 200
    normal = " ".join(f"tok{i} value{i*7%13}" for i in range(200))
    import random
    rng = random.Random(1)
    rnd = "".join(rng.choice(
        "abcdefghijklmnopqrstuvwxyz0123456789") for _ in range(1000))
    out = {r["doc_id"]: r["ratio_ppm"] for r in
           compression_ratio(_rows(spark, [rep, normal, rnd])).collect()}
    assert out[0] < out[1] < out[2]
    assert out[0] < 100_000           # repeats crush to <10%


def test_ratio_arithmetic_replayed_in_python(spark):
    texts = ["hello world " * 10, "abc", ""]
    got = {r["doc_id"]: (r["n_raw"], r["n_compressed"], r["ratio_ppm"])
           for r in compression_ratio(_rows(spark, texts + [None])).collect()}
    for i, t in enumerate(texts):
        raw = t.encode()
        comp = len(zlib.compress(raw, 6)) if raw else 0
        want = (len(raw), comp,
                comp * 1_000_000 // len(raw) if raw else None)
        assert got[i] == want
    assert got[3] == (0, 0, None)     # NULL text == empty


def test_partition_invariance(spark):
    texts = [f"doc {i} " + "x" * (i % 50) for i in range(100)]
    a = sorted(map(tuple, compression_ratio(_rows(spark, texts)).collect()))
    b = sorted(map(tuple, compression_ratio(
        _rows(spark, texts).repartition(13)).collect()))
    assert a == b


def test_level_validation(spark):
    with pytest.raises(ValueError):
        compression_ratio(_rows(spark, ["x"]), level=11)


# lz_window_savings: the hash-certified compression-signal core (r11) --------


def test_lz_savings_python_replay(spark):
    """Exact per-(doc, k) replay of the Catalyst arithmetic in plain
    Python — the same identity the DuckDB oracle value-hashes."""
    from bqetl_spark.functions.compressibility import lz_window_savings

    texts = ["spam " * 40, "the quick brown fox", "ab", ""]
    got = {(r["doc_id"], r["k"]): tuple(r)[2:] for r in
           lz_window_savings(_rows(spark, texts)).collect()}
    for i, t in enumerate(texts):
        for k in (8, 16):
            n_win = max(len(t) - k + 1, 0)
            n_distinct = len({t[j:j + k] for j in range(n_win)})
            savings = (n_win - n_distinct) * k
            ppm = savings * 10**6 // max(len(t), 1)
            assert got[(i, k)] == (n_win, n_distinct, savings, ppm), (i, k)


def test_lz_savings_agrees_with_deflate_direction(spark):
    """The link that makes the proxy a genuine companion to the rows-only
    DEFLATE gate: on the adversarial shapes (repetitive / normal /
    random) the certified savings rate and the uncertified DEFLATE
    ratio must order the documents the SAME way (higher savings ⇔
    more compressible ⇔ lower ratio)."""
    from bqetl_spark.functions.compressibility import lz_window_savings

    rep = "spam " * 200
    normal = " ".join(f"tok{i} value{i * 7 % 13}" for i in range(200))
    import random
    rng = random.Random(1)
    rnd = "".join(rng.choice(
        "abcdefghijklmnopqrstuvwxyz0123456789") for _ in range(1000))
    df = _rows(spark, [rep, normal, rnd])
    ratio = {r["doc_id"]: r["ratio_ppm"]
             for r in compression_ratio(df).collect()}
    sav = {r["doc_id"]: r["savings_ppm"]
           for r in lz_window_savings(df, ks=(8,)).collect()}
    assert ratio[0] < ratio[1] < ratio[2]          # deflate ordering
    assert sav[0] > sav[1] >= sav[2]               # savings mirror it
    assert sav[0] > 1_000_000                      # overlap-count > len
