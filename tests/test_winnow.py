from bqetl_spark.functions.dedup import winnow_fingerprint_vec


def _fp(spark, texts, k=8, w=4):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               ["doc_id", "text"])
    rows = df.select("doc_id",
                     winnow_fingerprint_vec(k, w)("text").alias("fp")).collect()
    return {r["doc_id"]: set(r["fp"]) for r in rows}


def test_identical_texts_identical_fingerprints(spark):
    fps = _fp(spark, ["the quick brown fox jumps over the lazy dog"] * 2)
    assert fps[0] == fps[1] and len(fps[0]) > 0


def test_shared_long_substring_shares_prints(spark):
    # winnowing guarantee: a shared substring of length >= k+w-1 (11 here)
    # yields at least one shared fingerprint
    common = "abcdefghijklmnopqrstuvwxyz"
    fps = _fp(spark, [f"XXX {common} YYY", f"QQQQQ {common} RRRR"])
    assert fps[0] & fps[1]


def test_disjoint_texts_disjoint_prints(spark):
    fps = _fp(spark, ["aaaaaaaaaaaaaaaaaaaaaa", "bbbbbbbbbbbbbbbbbbbbbb"])
    assert not (fps[0] & fps[1])


def test_short_text_still_fingerprints(spark):
    fps = _fp(spark, ["hi"])
    assert len(fps[0]) == 1  # single gram of the whole (short) string


def test_max_hash_freq_guard_subsets_exact(spark):
    from bqetl_spark.functions.dedup import winnow_overlap_pairs
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    exact = {(r["id_a"], r["id_b"])
             for r in winnow_overlap_pairs(docs).collect()}
    # a huge cap is a no-op (guard touches nothing below it)
    capped_hi = {(r["id_a"], r["id_b"])
                 for r in winnow_overlap_pairs(
                     docs, max_hash_freq=10**6).collect()}
    assert capped_hi == exact
    # a tight cap only ever REMOVES pairs (drops index entries, never adds)
    capped_lo = {(r["id_a"], r["id_b"])
                 for r in winnow_overlap_pairs(
                     docs, max_hash_freq=2).collect()}
    assert capped_lo <= exact
