"""Compression-ratio quality signal (the Gopher/RefinedWeb rule).

Highly compressible text is repetitive text: boilerplate, keyword stuffing,
template spam. The classic corpus-quality filter computes
``len(deflate(text)) / len(text)`` per document and drops the tails (too
compressible = repetitive; incompressible = random noise/binary junk).

Engine notes:

- DEFLATE comes from the stdlib ``zlib`` — not an external dependency
  (same boundary the PNG codec uses). For a FIXED zlib level the output
  bytes are deterministic for a given zlib build, and the ratio is stable
  across runs/partitionings; the repo pins level 6.
- One ``mapInPandas`` stage, Arrow-batched; zlib's C deflate dominates, so
  the Python row loop is not the bottleneck. No shuffle — the signal is
  row-local, exactly like the Catalyst quality scores in
  ``functions/text.py`` it complements.
- ORACLE BOUNDARY (documented, deliberate): DuckDB has no DEFLATE
  function, so the driver gate for this op is rows-only — the weaker
  check. The pytest suite pins the semantics instead (ordering between
  repetitive/normal/random text, determinism across partitionings,
  ratio_ppm arithmetic replayed in Python).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

RATIO_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("n_raw", T.LongType(), True),
    T.StructField("n_compressed", T.LongType(), True),
    T.StructField("ratio_ppm", T.LongType(), True),
])


def compression_ratio(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", level: int = 6) -> DataFrame:
    """Per-document DEFLATE ratio: (doc_id, n_raw, n_compressed,
    ratio_ppm) with ratio_ppm = n_compressed·10^6 DIV n_raw (all-integer,
    so downstream thresholds are exact). NULL/empty text → n_raw 0 and
    NULL ratio (a threshold filter naturally skips them)."""
    if not 0 <= level <= 9:
        raise ValueError(f"zlib level must be 0-9, got {level}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import zlib

        import pandas as _pd

        for pdf in batches:
            ids, nr, nc, rp = [], [], [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                raw = (t or "").encode("utf-8")
                comp = len(zlib.compress(raw, level)) if raw else 0
                ids.append(int(i))
                nr.append(len(raw))
                nc.append(comp)
                rp.append(comp * 1_000_000 // len(raw) if raw else None)
            yield _pd.DataFrame({
                "doc_id": _pd.Series(ids, dtype="int64"),
                "n_raw": _pd.Series(nr, dtype="int64"),
                "n_compressed": _pd.Series(nc, dtype="int64"),
                "ratio_ppm": _pd.Series(rp, dtype="object"),
            })

    return (df.select(F.col(id_col), F.col(text_col))
            .mapInPandas(run, schema=RATIO_SCHEMA))


def lz_window_savings(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      ks: tuple[int, ...] = (8, 16)) -> DataFrame:
    """The HASH-CERTIFIABLE core of the compression signal (r11, verdict
    item 6): the LZ77 dictionary-coverage upper bound that DEFLATE
    actually exploits, computed exactly in Catalyst so a SQL oracle can
    value-hash it — the companion that takes the compression family out
    of rows-only-evidence territory.

    For each window size k: ``n_windows = max(len−k+1, 0)`` character
    k-grams, ``n_distinct`` distinct ones; every repeated occurrence is
    a window an LZ77 coder could replace with a back-reference, so

        savings = (n_windows − n_distinct) · k

    is the (overlap-ignoring) upper bound on back-reference-coverable
    bytes, and ``savings_ppm = savings·10⁶ div greatest(len, 1)`` is the
    scale-free repetition rate (integer div — Spark truncates, DuckDB
    floors, they agree at ≥ 0). The DEFLATE ratio
    (:func:`compression_ratio`) and this proxy are pinned to agree in
    DIRECTION on the adversarial shapes (repetitive ≫ normal ≫ random
    savings; the reverse ordering for deflate size) by the pytest tier
    that already owns the DEFLATE arithmetic.

    One map-only projection per k (no shuffle, no UDF — pure codegen);
    at 100 TB this is a scan, like every other row-local text signal.
    Returns one row per (doc, k): (id, k, n_windows, n_distinct,
    savings, savings_ppm).
    """
    if not ks or any(k < 2 for k in ks):
        raise ValueError(f"window sizes must all be >= 2, got {ks!r}")
    c = F.col(text_col)
    parts = []
    for k in ks:
        n_win = F.greatest(F.length(c) - (k - 1), F.lit(0))
        grams = F.transform(F.sequence(F.lit(1), F.length(c) - (k - 1)),
                            lambda i: c.substr(i, F.lit(k)))
        n_distinct = (F.when(F.length(c) >= k,
                             F.size(F.array_distinct(grams)))
                      .otherwise(F.lit(0)))
        parts.append(df.select(
            F.col(id_col),
            F.lit(k).cast("long").alias("k"),
            n_win.cast("long").alias("n_windows"),
            n_distinct.cast("long").alias("n_distinct"),
            ((n_win - n_distinct) * k).cast("long").alias("savings"),
            F.expr(f"cast(cast((greatest(length({text_col}) - {k - 1}, 0)"
                   f" - (case when length({text_col}) >= {k} then"
                   f" size(array_distinct(transform(sequence(1,"
                   f" length({text_col}) - {k - 1}),"
                   f" i -> substring({text_col}, i, {k})))) else 0 end))"
                   f" as bigint) * {k} * 1000000"
                   f" div greatest(length({text_col}), 1) as long)")
            .alias("savings_ppm")))
    out = parts[0]
    for p2 in parts[1:]:
        out = out.unionByName(p2)
    return out
