"""Custom stateful streaming operators (applyInPandasWithState).

Two stateful shapes a crawl-ingest stream needs beyond watermarked
dedup:

- ``host_crawl_stats``: per-host running counters (pages seen, bytes,
  last capture ts) maintained across micro-batches with GroupState +
  event-time timeout — the streaming analog of the reference's
  serverMetrics counters (cmd/server/main.go:59-80), keyed by host
  instead of process.
- ``compact_streamed_output``: the batch reconciler for the
  streaming sink — first-arrival-wins within a watermark
  (streaming/stream.py) is reconciled to latest-capture-wins by a
  periodic batch dedup over the accumulated output (the lambda-style
  deployment described in stream.py's docstring).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING, Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..operators.dedup import dedup_latest

if TYPE_CHECKING:
    import pandas as pd

HOST_STATS_SCHEMA = StructType([
    StructField("host", StringType()),
    StructField("pages", LongType()),
    StructField("bytes", LongType()),
    StructField("batches", IntegerType()),
    StructField("last_ts", TimestampType()),
])

_STATE_SCHEMA = StructType([
    StructField("pages", LongType()),
    StructField("bytes", LongType()),
    StructField("batches", IntegerType()),
])


def _update_host_stats(
    key: tuple, batches: Iterator["pd.DataFrame"], state: GroupState
) -> Iterator["pd.DataFrame"]:
    import pandas as pd

    if state.exists:
        pages, nbytes, nbatches = state.get
    else:
        pages, nbytes, nbatches = 0, 0, 0
    last_ts = None
    for batch in batches:
        pages += len(batch)
        nbytes += int(batch["n_bytes"].sum())
        ts_max = batch["warc_ts"].max()
        if last_ts is None or (ts_max is not None and ts_max > last_ts):
            last_ts = ts_max
    nbatches += 1
    state.update((pages, nbytes, nbatches))
    yield pd.DataFrame({
        "host": [key[0]],
        "pages": [pages],
        "bytes": [nbytes],
        "batches": [nbatches],
        "last_ts": [last_ts],
    })


def host_crawl_stats(pages_stream: DataFrame) -> DataFrame:
    """Streaming per-host running counters.

    Input: a STREAMING pages DataFrame (url, warc_ts, html, ...).
    Output: one updated (host, pages, bytes, batches, last_ts) row per
    host per micro-batch (update output mode).
    """
    hosted = pages_stream.select(
        F.regexp_extract(F.col("url"), r"^[a-z]+://([^/]+)/", 1)
        .alias("host"),
        F.col("warc_ts"),
        F.length(F.col("html")).cast("long").alias("n_bytes"),
    )
    # append output: each micro-batch appends the refreshed state row
    # (parquet sinks can't take update mode; consumers read the
    # highest-`batches` row per host as the current state)
    return hosted.groupBy("host").applyInPandasWithState(
        _update_host_stats,
        outputStructType=HOST_STATS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


AMEND_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("text", StringType()),
    StructField("amend_seq", IntegerType()),
])

_AMEND_STATE = StructType([
    StructField("best_us", LongType()),
    StructField("n_amend", IntegerType()),
])


def _amend_updates(
    key: tuple, batches: Iterator["pd.DataFrame"], state: GroupState
) -> Iterator["pd.DataFrame"]:
    import pandas as pd

    best_us, n = (state.get if state.exists else (None, 0))
    # (us, norm_text) comparison key + (text, ts) payload — the key
    # normalizes None text to "" ONCE so a later row never compares
    # str against a stored None (which would raise TypeError and kill
    # the streaming task for any url batch with a null-text capture)
    cand = None  # (us, k_text, text, ts) — deterministic winner
    for batch in batches:
        for ts, text in zip(batch["warc_ts"], batch["text"]):
            us = int(pd.Timestamp(ts).value // 1000)
            k = (us, text if text is not None else "")
            if cand is None or k > (cand[0], cand[1]):
                cand = (us, k[1], text, ts)
    if cand is not None and (best_us is None or cand[0] > best_us):
        state.update((cand[0], n + 1))
        yield pd.DataFrame({
            "url": [key[0]],
            "warc_ts": [cand[3]],
            "text": [cand[2]],
            "amend_seq": [n + 1],
        })


def latest_capture_amendments(pages_stream: DataFrame) -> DataFrame:
    """Bi-temporal dedup as an AMENDMENT stream:
    per url, GroupState tracks the best capture timestamp ever seen;
    a micro-batch emits an amendment row only when it carries a
    STRICTLY newer capture (late-but-newer data amends, late-but-older
    data is ignored; ties keep the incumbent). Consumers fold by max
    amend_seq per url — the folded view always equals batch
    latest-capture-wins dedup over everything ingested so far, which
    is what makes the operator oracle-checkable. State survives
    checkpoint restarts like host_crawl_stats."""
    return pages_stream.select("url", "warc_ts", "text") \
        .groupBy("url").applyInPandasWithState(
            _amend_updates,
            outputStructType=AMEND_SCHEMA,
            stateStructType=_AMEND_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )


def fold_amendments(amends: DataFrame) -> DataFrame:
    """Current-truth view of an amendment log: the highest amend_seq
    row per url."""
    from pyspark.sql import Window

    w = Window.partitionBy("url").orderBy(F.col("amend_seq").desc())
    return (
        amends.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("url", "warc_ts", "text")
    )


def compact_streamed_output(streamed: DataFrame) -> DataFrame:
    """Batch reconciliation of the streaming sink: latest-capture-wins
    across everything the stream has appended (including late
    re-captures of a url that first-wins dedup let through on
    different watermark windows)."""
    return dedup_latest(streamed)


_ = Any  # (typing import kept for GroupState annotations)
