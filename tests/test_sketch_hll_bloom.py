"""HyperLogLog + Bloom filter (r7): register semantics vs a Python
reference, mergeability, both estimator regimes, the linear-counting ln
margin audit (ALL 255 possible arguments), and the bloom zero-false-
negative / map-only-probe contracts."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from bqetl_spark.functions.sketch import (
    HLL_ALPHA_PPM,
    HLL_M,
    HLL_RAW_NUM,
    HLL_RHO_MAX,
    HLL_SHIFT,
    HLL_SM,
    HLL_SRHO_MAX,
    HLL_SW,
    HLL_W,
    bloom_build,
    bloom_might_contain,
    hll_estimate,
    hll_merge,
    hll_sketch,
    hll_sparse_estimate,
    hll_sparse_sketch,
    hll_sparse_to_dense,
)


# ---------------------------------------------------------------- HLL --

def _py_registers(values):
    """Reference HLL registers computed with hashlib — the ground truth
    both the Spark op and the DuckDB oracle must reproduce."""
    regs: dict[int, int] = {}
    for v in values:
        hv = int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
        bucket = hv >> HLL_W
        rest = hv & ((1 << HLL_W) - 1)
        rho = HLL_RHO_MAX if rest == 0 else HLL_W - rest.bit_length() + 1
        regs[bucket] = max(regs.get(bucket, 0), rho)
    return regs


def _py_estimate(regs):
    v = len(regs)
    s = (HLL_M - v) * (1 << HLL_RHO_MAX) + sum(
        1 << (HLL_RHO_MAX - r) for r in regs.values())
    raw = HLL_RAW_NUM // (10**6 * s)
    if v < HLL_M and raw <= 5 * HLL_M // 2:
        z = HLL_M - v  # EMPTY registers — LinearCounting's argument
        return (HLL_M * math.floor(10**6 * math.log(HLL_M / z))) // 10**6
    return raw


def test_registers_match_python_reference(spark):
    vals = [f"item-{i}" for i in range(500)]
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    got = {r["bucket"]: r["max_rho"]
           for r in hll_sketch(df, "v").collect()}
    assert got == _py_registers(vals)


def test_estimate_matches_python_reference_both_regimes(spark):
    # raw regime (n >> 640) and linear-counting regime (small n)
    for n in (40, 5000):
        vals = [f"k{i}" for i in range(n)]
        df = spark.createDataFrame([(v,) for v in vals], ["v"])
        est = hll_estimate(hll_sketch(df, "v")).collect()[0]
        assert est["est"] == _py_estimate(_py_registers(vals)), n


def test_estimate_accuracy(spark):
    """Standard error is ~1.04/sqrt(256) = 6.5%; allow 3 sigma."""
    n = 20000
    df = spark.createDataFrame([(f"u{i}",) for i in range(n)], ["v"])
    est = hll_estimate(hll_sketch(df, "v")).collect()[0]["est"]
    assert abs(est - n) / n < 0.20, est


def test_linear_counting_small_sets(spark):
    """Tiny cardinalities take the linear-counting branch and stay
    close to exact (lc is near-exact when V << m)."""
    n = 30
    df = spark.createDataFrame([(f"s{i}",) for i in range(n)], ["v"])
    row = hll_estimate(hll_sketch(df, "v")).collect()[0]
    assert row["n_buckets"] <= n
    assert abs(row["est"] - n) <= 3, row


def test_merge_equals_union_sketch(spark):
    """merge(sketch(A), sketch(B)) must equal sketch(A ∪ B) REGISTER FOR
    REGISTER — the mergeability that lets daily sketches fold into a
    stored table without rescanning history (kmv_incremental's
    contract, here exact on the state itself)."""
    rows = [("g%d" % (i % 3), f"v{i}") for i in range(3000)]
    df = spark.createDataFrame(rows, ["grp", "v"])
    a = hll_sketch(df.filter(F.crc32(F.col("v")) % 2 == 0), "v", "grp")
    b = hll_sketch(df.filter(F.crc32(F.col("v")) % 2 == 1), "v", "grp")
    merged = {(r["grp"], r["bucket"]): r["max_rho"]
              for r in hll_merge(a, b).collect()}
    full = {(r["grp"], r["bucket"]): r["max_rho"]
            for r in hll_sketch(df, "v", "grp").collect()}
    assert merged == full


def test_lc_ln_margin_all_arguments():
    """The linear-counting branch's floor(1e6·ln(256/Z)) has exactly 255
    possible arguments (Z = empty registers in 1..255). Audit every one:
    the value must sit >1e-5 from an integer so a 1-ulp libm difference
    between Java's Math.log and DuckDB's can never flip the floor. The
    worst case over the whole domain is Z=59 at 5.7e-4; a 1-ulp
    divergence on x ≈ 1.5e6 is ~5e-10, so 1e-5 keeps >4 orders of
    headroom — this is the tfidf idf discipline, but CLOSED over the
    entire input domain rather than sampled from the corpus."""
    for z in range(1, HLL_M):
        x = 10**6 * math.log(HLL_M / z)
        assert abs(x - round(x)) > 1e-5, (z, x)


def test_null_values_ignored(spark):
    df = spark.createDataFrame([("a",), (None,), ("b",)], ["v"])
    regs = hll_sketch(df, "v").collect()
    assert {r["bucket"]: r["max_rho"] for r in regs} == \
        _py_registers(["a", "b"])


# -------------------------------------------- HLL intersection (r7) --

def test_intersect_estimate_accuracy(spark):
    """Inclusion-exclusion over two overlapping 4000-element sets with
    2000 in common: each term has ~6.5% stddev, so allow a generous
    3-sigma band around the true overlap."""
    a_vals = [f"x{i}" for i in range(4000)]          # 0..3999
    b_vals = [f"x{i}" for i in range(2000, 6000)]    # 2000..5999
    from bqetl_spark.functions.sketch import hll_intersect_estimate
    a = hll_sketch(spark.createDataFrame([(v,) for v in a_vals], ["v"]), "v")
    b = hll_sketch(spark.createDataFrame([(v,) for v in b_vals], ["v"]), "v")
    row = hll_intersect_estimate(a, b).collect()[0]
    assert abs(row["est_intersect"] - 2000) / 2000 < 0.5, row
    # union term must itself be sane
    assert abs(row["est_union"] - 6000) / 6000 < 0.2, row


def test_intersect_clamps_at_zero_and_empty_side(spark):
    """Disjoint sets can push inclusion-exclusion negative -> clamp; a
    group present on one side only yields exactly 0 (merge of A with
    nothing IS A, so a + 0 - a = 0 deterministically)."""
    from bqetl_spark.functions.sketch import hll_intersect_estimate
    df = spark.createDataFrame(
        [("g1", f"a{i}") for i in range(300)]
        + [("g2", f"b{i}") for i in range(300)], ["grp", "v"])
    a = hll_sketch(df.filter(F.col("grp") == "g1"), "v", "grp")
    b = hll_sketch(df.filter(F.col("grp") == "g2"), "v", "grp")
    rows = {r["grp"]: r for r in
            hll_intersect_estimate(a, b, "grp").collect()}
    assert rows["g1"]["est_b"] == 0 and rows["g1"]["est_intersect"] == 0
    assert rows["g2"]["est_a"] == 0 and rows["g2"]["est_intersect"] == 0
    assert all(r["est_intersect"] >= 0 for r in rows.values())


# ------------------------------------------------- HLL++ sparse (r7) --

def _py_sparse_pairs(values):
    """Reference sparse pairs at p'=14 from the same md5 hash."""
    pairs: dict[int, int] = {}
    for v in values:
        hv = int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
        idx = hv >> HLL_SW
        rest = hv & ((1 << HLL_SW) - 1)
        rho = HLL_SRHO_MAX if rest == 0 else HLL_SW - rest.bit_length() + 1
        pairs[idx] = max(pairs.get(idx, 0), rho)
    return pairs


def test_sparse_pairs_match_python_reference(spark):
    vals = [f"item-{i}" for i in range(500)]
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    got = {r["idx"]: r["max_rho"]
           for r in hll_sparse_sketch(df, "v").collect()}
    assert got == _py_sparse_pairs(vals)


def test_sparse_to_dense_equals_direct_dense(spark):
    """The HLL++ mode-switch invariant: downconverting the sparse p'=14
    sketch must reproduce the dense p=8 sketch ROW FOR ROW — both per
    group on real data and for the engineered edge cases (low6 == 0
    forces the rho' + 6 branch; all-zero rho fields hit both RHO_MAX
    constants)."""
    cust = spark.read.parquet("/root/testdata/sf0.01/customer.parquet")
    direct = sorted(map(tuple, hll_sketch(
        cust, "c_custkey", "c_nationkey").collect()))
    conv = sorted(map(tuple, hll_sparse_to_dense(hll_sparse_sketch(
        cust, "c_custkey", "c_nationkey")).collect()))
    assert direct == conv


def test_sparse_to_dense_branch_coverage():
    """Pure-arithmetic pin of the conversion on every (low6, rho') class:
    dense rho from a sparse pair must equal the rho computed straight
    from a 52-bit field with the same top-6/low-46 split."""
    for low6 in range(64):
        for rho_s in (1, 7, HLL_SRHO_MAX):
            rest46 = 0 if rho_s == HLL_SRHO_MAX else \
                1 << (HLL_SW - rho_s)  # a field with exactly that rho'
            rest52 = (low6 << HLL_SW) | rest46
            want = 53 if rest52 == 0 else HLL_W - rest52.bit_length() + 1
            got = (HLL_SHIFT + rho_s if low6 == 0
                   else HLL_SHIFT + 1 - low6.bit_length())
            assert got == want, (low6, rho_s)


def test_sparse_merge_equals_union(spark):
    """Sparse sketches MAX-merge exactly like dense ones (hll_merge
    dispatches on the idx column)."""
    rows = [("g%d" % (i % 3), f"v{i}") for i in range(3000)]
    df = spark.createDataFrame(rows, ["grp", "v"])
    a = hll_sparse_sketch(df.filter(F.crc32(F.col("v")) % 2 == 0),
                          "v", "grp")
    b = hll_sparse_sketch(df.filter(F.crc32(F.col("v")) % 2 == 1),
                          "v", "grp")
    merged = {(r["grp"], r["idx"]): r["max_rho"]
              for r in hll_merge(a, b).collect()}
    full = {(r["grp"], r["idx"]): r["max_rho"]
            for r in hll_sparse_sketch(df, "v", "grp").collect()}
    assert merged == full


def test_sparse_estimate_beats_dense_in_sparse_regime(spark):
    """The POINT of HLL++ sparse mode: linear counting at p'=14 on small
    cardinalities is far tighter than the dense p=8 estimator (measured
    0.13% vs 3.5% mean relative error on customer/nation at sf0.01).
    Assert the aggregate ordering, not the exact figures."""
    cust = spark.read.parquet("/root/testdata/sf0.01/customer.parquet")
    sp = hll_sparse_sketch(cust, "c_custkey", "c_nationkey")
    est_sp = {r["c_nationkey"]: r["est"]
              for r in hll_sparse_estimate(sp, "c_nationkey").collect()}
    est_de = {r["c_nationkey"]: r["est"] for r in hll_estimate(
        hll_sketch(cust, "c_custkey", "c_nationkey"),
        "c_nationkey").collect()}
    exact = {r["c_nationkey"]: r["x"] for r in
             cust.groupBy("c_nationkey")
             .agg(F.countDistinct("c_custkey").alias("x")).collect()}
    err_sp = sum(abs(est_sp[g] - exact[g]) / exact[g] for g in exact)
    err_de = sum(abs(est_de[g] - exact[g]) / exact[g] for g in exact)
    assert err_sp <= err_de, (err_sp, err_de)
    # and sparse is individually tight: lc at p'=14 with V <= ~70 per
    # group is near-exact
    assert all(abs(est_sp[g] - exact[g]) <= 2 for g in exact), est_sp


def test_sparse_estimate_saturated_falls_back_to_dense(spark):
    """A synthetic FULL slot table (V = m') takes the dense-path branch:
    the estimate must equal hll_estimate over the downconverted
    registers, and must not evaluate ln(m'/0)."""
    full = spark.range(HLL_SM).select(
        F.col("id").cast("int").alias("idx"),
        F.lit(1).cast("int").alias("max_rho"))
    got = hll_sparse_estimate(full).collect()[0]
    want = hll_estimate(hll_sparse_to_dense(full)).collect()[0]["est"]
    assert got["n_pairs"] == HLL_SM and got["est"] == want


def test_sparse_lc_ln_margin_all_arguments():
    """floor(1e6·ln(16384/Z)) over the ENTIRE sparse linear-counting
    domain (Z in 1..16383): every value must sit >5e-6 from an integer.
    Measured minimum is 7.55e-6 at Z=11642; a 1-ulp libm divergence on
    x <= 1e6·ln(16384) ≈ 9.7e6 is ~2e-9, so the floor keeps >3 orders
    of headroom — the dense audit's discipline, closed over the larger
    domain."""
    import numpy as np

    z = np.arange(1, HLL_SM, dtype=np.float64)
    x = 10**6 * np.log(HLL_SM / z)
    margin = np.abs(x - np.round(x))
    assert float(margin.min()) > 5e-6, int(z[margin.argmin()])


# -------------------------------------------------------------- Bloom --

def test_bloom_zero_false_negatives(spark):
    members = [f"key-{i}" for i in range(800)]
    build = spark.createDataFrame([(m,) for m in members], ["k"])
    words = bloom_build(build, "k", m_bits=8192, k_hashes=3)
    assert len(words) == 8192 // 64
    hits = (build.withColumn(
        "bp", bloom_might_contain("k", words, m_bits=8192, k_hashes=3))
        .filter(~F.col("bp")).count())
    assert hits == 0  # every member passes, by construction


def test_bloom_fpr_within_bound(spark):
    """fpr ≈ (1 − e^(−kn/m))^k; assert observed ≤ 3× theoretical."""
    n, m, k = 800, 8192, 3
    build = spark.createDataFrame([(f"in-{i}",) for i in range(n)], ["k"])
    words = bloom_build(build, "k", m_bits=m, k_hashes=k)
    probe = spark.createDataFrame([(f"out-{i}",) for i in range(4000)],
                                  ["k"])
    fp = (probe.withColumn(
        "bp", bloom_might_contain("k", words, m_bits=m, k_hashes=k))
        .filter(F.col("bp")).count())
    theo = (1 - math.exp(-k * n / m)) ** k
    assert fp / 4000 <= 3 * theo + 0.01, (fp, theo)


def test_bloom_probe_is_map_only(spark):
    """The probe side must be pure expressions over the literal bitmap —
    no join, no shuffle, no Python: the plan may not contain a Join or
    an Exchange above the scan."""
    build = spark.createDataFrame([(f"x{i}",) for i in range(100)], ["k"])
    words = bloom_build(build, "k", m_bits=4096, k_hashes=3)
    probe = spark.range(1000).select(
        F.concat(F.lit("p"), F.col("id")).alias("k"))
    out = probe.filter(
        bloom_might_contain("k", words, m_bits=4096, k_hashes=3))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan
    out.count()  # and it executes


def test_bloom_bitmap_matches_python_fold(spark):
    """The collected bitmap must equal the hashlib reference fold —
    signed two's-complement words included."""
    keys = [f"z{i}" for i in range(50)]
    build = spark.createDataFrame([(v,) for v in keys], ["k"])
    m, kh = 4096, 3
    words = bloom_build(build, "k", m_bits=m, k_hashes=kh)
    ref = [0] * (m // 64)
    for v in keys:
        for i in range(kh):
            hv = int(hashlib.md5(f"{i}:{v}".encode()).hexdigest()[:15], 16)
            p = hv % m
            ref[p // 64] |= 1 << (p % 64)
    ref = [w - (1 << 64) if w >= (1 << 63) else w for w in ref]
    assert words == ref


def test_bloom_validation(spark):
    build = spark.createDataFrame([("a",)], ["k"])
    with pytest.raises(ValueError):
        bloom_build(build, "k", m_bits=100)  # not a multiple of 64
    with pytest.raises(ValueError):
        bloom_build(build, "k", m_bits=64, k_hashes=0)
    words = bloom_build(build, "k", m_bits=128, k_hashes=2)
    with pytest.raises(ValueError):  # m_bits mismatch breaks no-FN
        bloom_might_contain("k", words, m_bits=256, k_hashes=2)


def test_bloom_null_keys_test_false(spark):
    """NULL keys must probe FALSE (concat_ws would otherwise hash the
    bare salt on Spark while SQL || propagates NULL — the cross-engine
    divergence the gate's oracle relies on being closed)."""
    build = spark.createDataFrame([("a",), ("b",)], ["k"])
    words = bloom_build(build, "k", m_bits=4096, k_hashes=3)
    probe = spark.createDataFrame([("a",), (None,)], ["k"])
    got = {r["k"]: r["bp"] for r in probe.withColumn(
        "bp", bloom_might_contain("k", words, m_bits=4096,
                                  k_hashes=3)).collect()}
    assert got["a"] is True
    assert got[None] is False


# --------------------------------------------- sliding-window HLL (r7) --

def test_sliding_equals_direct_window_sketch(spark):
    """Frame-reuse correctness: the re-MAXed trailing-window estimate
    must EQUAL estimating a sketch built directly over each window's
    raw rows (merge ≡ union-sketch, applied per frame)."""
    import datetime as dt

    from bqetl_spark.functions.sketch import hll_sliding_estimate

    rows = [(dt.datetime(2024, 1, 1, h), f"u{h}_{i % (10 * (h + 1))}")
            for h in range(5) for i in range(40)]
    df = spark.createDataFrame(rows, ["ts", "v"])
    got = {r["win_end"]: r["est"]
           for r in hll_sliding_estimate(df, "v", "ts", 3).collect()}
    # direct: for each present hour h, sketch rows with hour in (h-2..h)
    base = dt.datetime(2024, 1, 1)
    for h in range(5):
        lo, hi = base + dt.timedelta(hours=h - 2), base + dt.timedelta(hours=h)
        sub = df.filter((F.col("ts") >= lo) & (F.col("ts") <= hi))
        want = hll_estimate(hll_sketch(sub, "v")).collect()[0]["est"]
        win_end = int((base + dt.timedelta(hours=h)).timestamp())
        assert got[win_end] == want, (h, got[win_end], want)


def test_sliding_validation(spark):
    import datetime as dt

    from bqetl_spark.functions.sketch import hll_sliding_estimate

    df = spark.createDataFrame([(dt.datetime(2024, 1, 1), "a")],
                               ["ts", "v"])
    with pytest.raises(ValueError):
        hll_sliding_estimate(df, "v", "ts", 0)


# -------------------------------------------------- winsorize (r7) --

def test_winsorize_caps_and_preserves_rows(spark):
    from bqetl_spark.functions.sketch import winsorize

    df = spark.createDataFrame([(i, float(i)) for i in range(100)],
                               ["id", "v"])
    out = winsorize(df, "v", F.col("id"), lo=0.1, hi=0.9, k=1024)
    rows = out.collect()
    assert len(rows) == 100                     # no rows dropped
    # k >= n: the sample is the whole set, thresholds are exact lower
    # quantiles: rank floor(q*99)+1 -> values 9.0 and 89.0
    assert min(r["v_w"] for r in rows) == 9.0
    assert max(r["v_w"] for r in rows) == 89.0
    # interior values unchanged
    assert all(r["v_w"] == r["v"] for r in rows if 9.0 <= r["v"] <= 89.0)


def test_winsorize_nulls_and_empty(spark):
    from bqetl_spark.functions.sketch import winsorize

    df = spark.createDataFrame([(1, None), (2, 5.0), (3, 5.0)],
                               "id long, v double")
    rows = {r["id"]: r["v_w"] for r in
            winsorize(df, "v", F.col("id")).collect()}
    assert rows[1] is None and rows[2] == 5.0
    empty = winsorize(df.filter("id < 0"), "v", F.col("id"))
    assert empty.count() == 0 and "v_w" in empty.columns
    import pytest
    with pytest.raises(ValueError):
        winsorize(df, "v", F.col("id"), lo=0.9, hi=0.1)


# ------------------------------------------- HLL++ bias correction (r9) --

def _py_bias(raw):
    from bqetl_spark.functions.sketch import HLL_BIAS_TABLE as tbl
    if raw < tbl[0][0]:
        return tbl[0][1]
    for (x0, b0), (x1, b1) in zip(tbl, tbl[1:]):
        if raw < x1:
            return (b0 * (x1 - raw) + b1 * (raw - x0)) // (x1 - x0)
    return tbl[-1][1]


def _py_estimate_corrected(regs):
    """Reference replay of hll_estimate_corrected's branch arithmetic."""
    v = len(regs)
    s = (HLL_M - v) * (1 << HLL_RHO_MAX) + sum(
        1 << (HLL_RHO_MAX - r) for r in regs.values())
    raw = HLL_RAW_NUM // (10**6 * s)
    if v < HLL_M and raw <= 5 * HLL_M // 2:
        z = HLL_M - v
        return (HLL_M * math.floor(10**6 * math.log(HLL_M / z))) // 10**6
    if raw <= 5 * HLL_M:
        return raw - _py_bias(raw)
    return raw


def test_corrected_matches_python_reference(spark):
    """The Spark corrected estimator replays the Python reference on a
    HOLD-OUT stream (salt 'eval', never seen by the calibration tool)
    landing in the corrected branch."""
    from bqetl_spark.functions.sketch import hll_estimate_corrected

    vals = [f"eval:0:{i}" for i in range(750)]
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    est = hll_estimate_corrected(hll_sketch(df, "v")).collect()[0]["est"]
    assert est == _py_estimate_corrected(_py_registers(vals))


def test_corrected_equals_plain_outside_midrange(spark):
    """Below the lc handoff and above 5m the corrected estimator is
    IDENTICAL to hll_estimate — the correction only touches the mid
    range, by construction."""
    from bqetl_spark.functions.sketch import hll_estimate_corrected

    for n in (40, 5000):
        vals = [f"k{i}" for i in range(n)]
        df = spark.createDataFrame([(v,) for v in vals], ["v"])
        regs = hll_sketch(df, "v")
        corr = hll_estimate_corrected(regs).collect()[0]["est"]
        plain = hll_estimate(regs).collect()[0]["est"]
        assert corr == plain, n


def test_bias_correction_tighter_midrange():
    """The r8-verdict acceptance bar, pinned on what HLL++ correction
    actually buys at p=8: the SYSTEMATIC bias collapses (>= 2x smaller
    mean signed error at every mid-range n; 3.9-6.5x measured) while
    mean |err| stays flat (within 5%) — at this precision the per-trial
    noise sigma (~6.5% = 45-58) dwarfs the ~1.5% bias, so MSE is
    unchanged, exactly the regime the paper reports for small p. 200
    hold-out streams per n (salt 'eval:<t>', disjoint from
    calibration's 'cal:<t>'); fully deterministic, no flake."""
    for n in (700, 800, 900):
        abs_p = abs_c = signed_p = signed_c = 0
        for t in range(200):
            regs = _py_registers([f"eval:{t}:{i}" for i in range(n)])
            p = _py_estimate(regs)
            c = _py_estimate_corrected(regs)
            abs_p += abs(p - n)
            abs_c += abs(c - n)
            signed_p += p - n
            signed_c += c - n
        assert abs(signed_c) <= abs(signed_p) * 0.5, (n, signed_p, signed_c)
        assert abs_c <= abs_p * 1.05, (n, abs_p, abs_c)
