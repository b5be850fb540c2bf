"""Partitioned layout: directory-level pruning audit.

The assertion that matters at 100 TB: a date-ranged read of a
date-partitioned fact lists only the matching partition dirs — the
predicate appears in PartitionFilters (planning-time pruning), and the
pruned read returns exactly the rows a full-scan filter would.
"""

import os

from pyspark.sql import functions as F

from bqetl_spark.sources.partitioned import (
    partition_filters, prunes_partitions, read_partitioned, write_partitioned)


def test_partitioned_write_prunes_on_read(spark, tmp_path):
    df = spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 7).alias("day"),
        (F.col("id") * 3).alias("value"))
    out = str(tmp_path / "t")
    write_partitioned(df, out, ["day"])

    # one directory per partition value
    dirs = {d for d in os.listdir(out) if d.startswith("day=")}
    assert dirs == {f"day={i}" for i in range(7)}

    back = read_partitioned(spark, out)
    pruned = back.filter(F.col("day") == 3)
    assert prunes_partitions(pruned), partition_filters(pruned)
    # an unpartitioned-column predicate must NOT claim partition pruning
    unpruned = back.filter(F.col("value") > 100)
    assert not prunes_partitions(unpruned)

    # pruned read ≡ full-scan filter
    assert sorted(r["id"] for r in pruned.collect()) == \
        [i for i in range(1000) if i % 7 == 3]


def test_partition_pruning_range_predicate(spark, tmp_path):
    df = spark.range(300).select(
        F.col("id"), (F.col("id") % 10).alias("shard"))
    out = str(tmp_path / "t")
    write_partitioned(df, out, ["shard"])
    back = read_partitioned(spark, out)
    ranged = back.filter((F.col("shard") >= 2) & (F.col("shard") < 5))
    assert prunes_partitions(ranged)
    assert ranged.count() == 30 * 3
