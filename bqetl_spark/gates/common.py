"""Helpers shared by several gate families: table loading, money
casts, per-gate scratch dirs, and the DuckDB pieces (token split,
fingerprints, cosine, the discounted-revenue expression) that
oracles of more than one family embed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bqetl_spark.sources.parquet_source import load_events, load_parquet_table


DEC = "decimal(18,2)"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return load_events(spark, sf_dir)
    return load_parquet_table(spark, sf_dir, name)


def _money(col) -> F.Column:
    return F.col(col).cast(DEC) if isinstance(col, str) else col.cast(DEC)


def _scratch(tag: str, sf_dir: str, wipe: bool = False) -> str:
    """Stable per-(gate, sf) scratch dir under /tmp — reused across
    invocations instead of leaking one mkdtemp per call (ADVICE r6).
    Deterministic path, so a re-run overwrites rather than accumulates."""
    import hashlib
    import os
    import shutil
    import tempfile

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    d = os.path.join(tempfile.gettempdir(), "bqetl_scratch",
                     f"{tag}_{key}")
    if wipe:
        # a stale checkpoint/target from an earlier or interrupted run
        # must not leak into this one — start clean every time
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    return d


def _wav_header(n_bytes: int) -> bytes:
    """Mono 8 kHz 16-bit RIFF/WAV header for an n-byte data chunk — the
    q_multimodal_audio construction, shared by the landmark gates."""
    import struct

    return (b"RIFF" + (36 + n_bytes).to_bytes(4, "little") + b"WAVE"
            + b"fmt " + (16).to_bytes(4, "little")
            + struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
            + b"data" + n_bytes.to_bytes(4, "little"))


# whitespace tokens of trimmed text (matches bqetl_spark.functions.text.tokens)
_TOK = "regexp_split_to_array(trim(text), '\\s+')"


# 3-gram shingle strings from token array w (1-based inclusive duckdb slices)
_GRAMS = ("list_distinct([array_to_string(w[i:i+2], ' ') "
          "for i in range(1, greatest(len(w)-2, 1) + 1)])")
