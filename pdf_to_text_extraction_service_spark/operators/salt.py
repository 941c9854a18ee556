"""Payload-size-aware salting — SURVEY.md §4 custom work #1.

Catalyst balances BYTES at scan time, but one 200 MiB PDF row in a
partition of 4 KiB HTML rows starves a task (the reference bounds this
with per-extractor byte caps + page-worker semaphores; in Spark the
lever is partitioning). ``size_tiered_repartition`` spreads rows by an
``xxhash64(url)`` salt and puts the oversized tail on a disjoint salt
space, so a handful of huge documents land in (mostly) dedicated
partitions instead of straggling mixed tasks. One shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def size_tiered_repartition(df: DataFrame, num_partitions: int,
                            big_bytes: int = 1 << 20,
                            big_partitions: int | None = None) -> DataFrame:
    """Repartition with the oversized tail spread one-per-salt.

    Small rows salt into [0, num_partitions) (bounded salt domain →
    bounded partitioning metadata); rows with length(html) >=
    big_bytes take their FULL 64-bit url hash as salt — a unique salt
    per giant, so after the partitioner re-hashes the salt the giants
    place i.i.d.-uniformly across partitions instead of clustering on
    a narrow salt range. Spreading giants one-per-task is what lets
    speculative execution / AQE see them as independent stragglers.
    """
    if big_partitions is None:
        big_partitions = max(num_partitions // 4, 1)
    big = F.length(F.col("html")) >= F.lit(big_bytes)
    salted = df.withColumn(
        "_salt",
        F.when(big, F.xxhash64(F.col("url")))
        .otherwise(F.pmod(F.xxhash64(F.col("url")), F.lit(num_partitions))),
    )
    return (
        salted.repartition(num_partitions + big_partitions, "_salt")
        .drop("_salt")
    )
