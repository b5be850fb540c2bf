"""Gate registry: every driver-contract gate, its builder and its oracle.

A gate is a ``(spark, sf_dir) -> DataFrame`` builder in one of the family
modules below, registered with ``@gate(oracle=...)``. The oracle is the
DuckDB SQL that must produce the same rows over the same parquet tables
(compared order-insensitively after sorting columns by name); a gate
without one is checked for rows only. The gate's name is the builder's
name without its ``q_`` prefix.

An oracle that embeds another gate's oracle reads that gate's module-level
``_<NAME>_ORACLE`` constant, so every oracle is a plain string by the time
its family module has been imported.

``__spark_entry__.queries()`` / ``oracle_sql()`` read the registry; the
package itself is not imported by ``bqetl_spark`` (importing the families
imports most of the engine).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

FAMILIES = ("reference", "relational", "streaming", "text", "dedup",
            "similarity", "multimodal", "sketch", "graph", "trainers")

_GATES: dict[str, tuple[Callable, str | None]] = {}


def gate(oracle: str | None = None):
    """Register the decorated builder; ValueError if its name is taken."""
    def register(builder):
        name = builder.__name__.removeprefix("q_")
        if name in _GATES:
            raise ValueError(f"gate {name!r} is already registered")
        _GATES[name] = (builder, oracle)
        return builder
    return register


def registry() -> dict[str, tuple[Callable, str | None]]:
    """gate name -> (builder, oracle SQL or None), every family loaded."""
    for family in FAMILIES:
        importlib.import_module(f"{__name__}.{family}")
    return _GATES
