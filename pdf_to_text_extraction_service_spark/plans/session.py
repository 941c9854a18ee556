"""SparkSession construction with scale-oriented defaults.

Tunings map to the reference's hand-rolled cost controls (SURVEY.md §4):
- AQE + skew-join handle the url-dedup / lineage-join shuffles at
  100 TB (the reference's bounded-parallelism tiers are executor
  sizing, not job code).
- Arrow batch size is capped LOW (256 rows) because page payloads are
  multi-MiB binary cells — the 10k default would OOM the Python worker
  (SURVEY.md §7 hard-part 4; the analog of the reference's
  io.LimitedReader streaming caps, download.go:70-79).
- The parquet VECTORIZED READER batch is capped for the same reason:
  the default 4096-row columnar batch over KB-to-MB binary cells
  fails with "Cannot reserve additional contiguous bytes" under
  concurrent shuffle memory pressure (observed on a 1M-page run of
  jobs/extract.py); 512 rows bounds each column batch to a few MiB.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ARROW_MAX_RECORDS_PER_BATCH = 256


def build_session(app_name: str = "webextract",
                  master: str | None = None,
                  shuffle_partitions: int | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(ARROW_MAX_RECORDS_PER_BATCH))
        .config("spark.sql.parquet.columnarReaderBatchSize", "512")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def tune_arrow_batch(spark: SparkSession, pages,
                     target_mb: int = 4) -> int:
    """Size Arrow batches by PAYLOAD BYTES, not rows.

    The conservative 256-row default protects multi-MiB office/PDF
    payloads from OOM, but starves thin HTML crawl pages (256 rows of
    ~1 KB = 0.25 MB batches → Python-side per-batch overhead dominates;
    measured 26% extraction slowdown vs right-sized batches at sf0.1).
    Sample the average `html` length over the first 2000 rows and set
    maxRecordsPerBatch to target ~``target_mb`` MB per batch, clamped
    to [64, 8192] rows. Returns the chosen row count. Call per input table
    before an extraction job (jobs/extract.py does).

    The 4 MB default is deliberate: paired scaling runs showed 32 MB
    batches cost ~8% scaling efficiency at 4x parallelism (8 workers
    x large concurrent Arrow/pandas footprints contend on memory
    bandwidth that 2 workers do not), while 4 MB keeps the per-batch
    Python overhead amortized for thin pages without that pressure."""
    from pyspark.sql import functions as F

    row = (
        pages.select(F.length("html").alias("n"))
        .limit(2000)
        .agg(F.avg("n").alias("avg"))
        .first()
    )
    avg = float(row["avg"]) if row and row["avg"] is not None else None
    if not avg or avg <= 0:
        rows = ARROW_MAX_RECORDS_PER_BATCH
    else:
        rows = int(max(64, min(8192, (target_mb * 1024 * 1024) / avg)))
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                   str(rows))
    return rows
