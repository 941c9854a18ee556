"""Per-partition lineage manifest + resumable extraction runs.

North_rule: "checkpoints per-partition progress … (source snapshot,
partition id, row counts, extraction-failure codes) so a killed run
resumes without reprocessing". The reference has no analog (it retries
at the HTTP layer, SURVEY.md §1.3); this is job-level code on public
APIs only (SURVEY.md §4 custom work #2).

Unit of progress: a url-hash BUCKET (``pmod(xxhash64(url), B)``).
Because dedup is keyed on url and a url's every capture hashes to the
same bucket, per-bucket dedup equals global dedup — so buckets are
independently processable, committable and retryable.

Buckets are processed in WAVES: one output write and one manifest
append per wave. Each wave:
  filter pages to its buckets → extract_pipeline → write
  output/bucket=K dirs (idempotent overwrite) → append one manifest
  row per bucket, computed by one query over the committed output.

Manifest columns (MANIFEST_SCHEMA): ``row_count`` and ``ok_count``
count the bucket's output rows and its ``success`` rows;
``failure_codes`` counts failed rows by ``format`` (format names, not
error codes) and is NULL when the bucket has none; ``started_at`` is
the wave's start and ``finished_at`` the time its output committed.

Resume = left-anti of bucket ids against manifest rows for the same
source snapshot.

Scan-cost note for 100 TB: with plain parquet input each wave re-scans
the source (the bucket predicate cannot prune row-groups), so waves
trade scan passes for checkpoint granularity — pick wave_count ~4-8.
With an Iceberg/bucketed source partitioned by ``bucket(url, B)`` the
same predicate partition-prunes and waves are nearly free.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.pipeline import extract_pipeline

MANIFEST_SCHEMA = (
    "source_snapshot string, bucket int, row_count long, ok_count long, "
    "failure_codes map<string,long>, started_at timestamp, "
    "finished_at timestamp"
)


def bucket_col(buckets: int, key: str = "url"):
    return F.pmod(F.xxhash64(F.col(key)), F.lit(buckets)).cast("int")


def completed_buckets(spark: SparkSession, manifest_path: str,
                      source_snapshot: str) -> set[int]:
    from pyspark.errors import AnalysisException

    try:
        mf = spark.read.parquet(manifest_path)
        rows = (
            mf.filter(F.col("source_snapshot") == source_snapshot)
            .select("bucket").distinct().collect()
        )
    except AnalysisException:
        # missing path or a foreign parquet schema at the path: treat
        # as "nothing committed" and let the run repopulate. Transient
        # IO failures raise other exception types and PROPAGATE — a
        # throttled read must not silently reset resume state and
        # re-extract the whole corpus.
        return set()
    return {r["bucket"] for r in rows}


def run_resumable_extract(
    spark: SparkSession,
    pages: DataFrame,
    output_path: str,
    manifest_path: str,
    buckets: int = 64,
    wave_count: int = 8,
    source_snapshot: str | None = None,
    dedup: bool = True,
    fail_after_waves: int | None = None,
) -> None:
    """Extract `pages` into output_path, checkpointing per bucket.

    fail_after_waves is a test hook: raise after N waves to simulate a
    killed run (the kill/resume pytest uses it).
    """
    if source_snapshot is None:
        source_snapshot = f"pages-b{buckets}"

    done = completed_buckets(spark, manifest_path, source_snapshot)
    pending = [b for b in range(buckets) if b not in done]
    if not pending:
        return

    waves: list[list[int]] = [
        pending[i::wave_count] for i in range(wave_count)
    ]
    waves = [w for w in waves if w]

    pages_b = pages.withColumn("_bucket", bucket_col(buckets))

    for wave_idx, wave in enumerate(waves):
        started = datetime.datetime.now(datetime.timezone.utc)
        wave_pages = pages_b.filter(F.col("_bucket").isin(wave))
        extracted = extract_pipeline(
            wave_pages.drop("_bucket"), dedup=dedup, keep_pages_col=False
        ).withColumn("bucket", bucket_col(buckets))
        (
            extracted.write.mode("overwrite")
            .partitionBy("bucket")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(output_path)
        )
        finished = datetime.datetime.now(datetime.timezone.utc)
        # Exact per-bucket metrics from the committed output (columnar
        # read of 3 small columns, no second extraction pass).  Reading
        # with the known schema makes an all-filtered wave, which
        # commits no parquet files, read as empty instead of raising.
        counts = (
            spark.read.schema(extracted.schema).parquet(output_path)
            .filter(F.col("bucket").isin(wave))
            .groupBy("bucket", "success", "format").count()
        )
        per_bucket = counts.groupBy("bucket").agg(
            F.sum("count").alias("row_count"),
            F.sum(F.when(F.col("success"), F.col("count")))
            .alias("ok_count"),
            F.collect_list(F.when(~F.col("success"),
                                  F.struct("format", "count")))
            .alias("failed"),
        )
        # Buckets with zero input rows still get a manifest row.
        (
            spark.range(buckets)
            .select(F.col("id").cast("int").alias("bucket"))
            .filter(F.col("bucket").isin(wave))
            .join(per_bucket, "bucket", "left")
            .select(
                F.lit(source_snapshot).alias("source_snapshot"),
                "bucket",
                F.coalesce("row_count", F.lit(0)).alias("row_count"),
                F.coalesce("ok_count", F.lit(0)).alias("ok_count"),
                F.when(F.size("failed") > 0, F.map_from_entries("failed"))
                .alias("failure_codes"),
                F.lit(started).alias("started_at"),
                F.lit(finished).alias("finished_at"),
            )
            .write.mode("append").parquet(manifest_path)
        )

        if fail_after_waves is not None and wave_idx + 1 >= fail_after_waves:
            raise RuntimeError(
                f"simulated failure after wave {wave_idx + 1}"
            )
