"""Parity reference for ``operators/dedup.py``: the window
``row_number() == 1`` latest-capture dedup, checked against the
engine's partial-aggregation ``dedup_latest``."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dedup_latest_window(df: DataFrame, key: str = "url",
                        ts: str = "warc_ts") -> DataFrame:
    w = Window.partitionBy(key).orderBy(F.col(ts).desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
