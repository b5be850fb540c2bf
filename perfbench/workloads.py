"""Workload definitions: which gates and pipelines each workload runs and
the input tables each one reads. README.md records why each workload
exists and which layers it stresses and bypasses.

Every workload is a closed loop with one client: items run one after
another in one SparkSession, the next starting when the previous one's
output is fully materialized and its storage released — the way the
external caller and a long-lived pipeline call the engine.
"""

from __future__ import annotations

from dataclasses import dataclass

NDJSON_FACTS = ("artist", "artist_credit_name", "recording")
NDJSON_DIMS = ("area", "gender")


@dataclass(frozen=True)
class Item:
    name: str
    kind: str                 # "gate" (queries() entry) or "pipeline"
    tables: tuple[str, ...]   # input tables it reads (for input_rows)
    lookups: bool = False     # pipeline: decode FKs through area/gender


@dataclass(frozen=True)
class Workload:
    name: str
    inputs: tuple[str, ...]   # generated input families: "star", "mb"
    items: tuple[Item, ...]


def _gate(name: str, *tables: str) -> Item:
    return Item(name, "gate", tables)


_ORDER_CHAIN = ("customer", "orders", "lineitem")

WORKLOADS = {w.name: w for w in (
    Workload(
        name="etl_relational",
        inputs=("mb", "star"),
        items=(
            Item("etl_simple", "pipeline", NDJSON_FACTS),
            Item("etl_simple_lookups", "pipeline", NDJSON_FACTS + NDJSON_DIMS,
                 lookups=True),
            Item("etl_nested", "pipeline", NDJSON_FACTS + NDJSON_DIMS),
            _gate("denorm_flat", *_ORDER_CHAIN),
            _gate("q5_region_revenue", *_ORDER_CHAIN, "nation", "region"),
            _gate("sessionize", "events"),
        ),
    ),
    Workload(
        name="neardup_iterative",
        inputs=("star",),
        items=(
            _gate("simhash_pairs", "documents"),
            _gate("pagerank", "orders", "lineitem"),
            _gate("stream_kmv", "events"),
        ),
    ),
)}
