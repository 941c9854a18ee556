"""r8 optimization parity pins: the vectorized k-means / assignment /
semantic-dedup prune paths must be bit-identical to the original SQL
implementations they replaced (OPTIMIZATION_r08.md)."""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"

_DOT = ("aggregate(zip_with({a}, {b}, (x, y) -> "
        "cast(x as double) * cast(y as double)), "
        "cast(0.0 as double), (acc, v) -> acc + v)")


def _mutant_union(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    base = emb.select(
        "vec_id",
        F.expr("transform(embedding, v -> cast(v as double))")
        .alias("embedding"))
    mut = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.expr("transform(embedding, (v, i) -> cast(v as double) * "
               "(case when i = 0 then cast(1.02 as double) else "
               "cast(1.0 as double) end))").alias("embedding"))
    return base.unionByName(mut)


def test_train_kmeans_fast_equals_reference(spark):
    """The one-Exchange Arrow trainer must reproduce the posexplode
    reference trainer bit-for-bit (same fixed-shape reduction tree)."""
    from pdf_to_text_extraction_service_spark.operators.ivf import (
        train_kmeans,
    )
    from tests.reference.ivf import train_kmeans_reference

    df = _mutant_union(spark)
    assert train_kmeans(df, k=6, iters=3) == \
        train_kmeans_reference(df, k=6, iters=3)


def test_assign_clusters_pd_equals_jvm(spark):
    from pdf_to_text_extraction_service_spark.operators.ivf import (
        assign_clusters,
        assign_clusters_pd,
        train_kmeans,
    )

    df = _mutant_union(spark)
    cents = train_kmeans(df, k=5, iters=2)
    jvm = sorted(map(tuple,
                     assign_clusters(df, cents)
                     .select("vec_id", "cluster").collect()))
    arrow = sorted(map(tuple,
                       assign_clusters_pd(df, cents)
                       .select("vec_id", "cluster").collect()))
    assert jvm == arrow and len(jvm) > 0


def _old_pair_phase(capped, threshold):
    """The pre-r8 SQL pair phase (cluster self-join + interpreted
    per-pair cosine) — the reference the GEMM-prefilter prune is
    pinned against."""
    left = capped.select("cluster", F.col("_id").alias("_ida"),
                         F.col("_v").alias("_va"),
                         F.col("_n").alias("_na"))
    right = capped.select("cluster", F.col("_id").alias("_idb"),
                          F.col("_v").alias("_vb"),
                          F.col("_n").alias("_nb"))
    pairs = (
        left.join(right, "cluster")
        .filter(F.col("_ida") < F.col("_idb"))
        .withColumn("cosine",
                    F.expr(_DOT.format(a="_va", b="_vb"))
                    / (F.col("_na") * F.col("_nb")))
        .filter(F.col("cosine") >= threshold)
    )
    return (
        pairs.groupBy(F.col("_idb").alias("vec_id"))
        .agg(F.min(F.struct(
            F.col("_ida").alias("kept_id"),
            F.col("cosine").alias("cosine"))).alias("w"))
        .select("vec_id", F.col("w.kept_id").alias("kept_id"),
                F.round("w.cosine", 6).alias("cosine"))
    )


def test_cluster_prune_equals_old_sql_join(spark):
    from pdf_to_text_extraction_service_spark.operators.floodcap import (
        cap_flooded_buckets,
    )
    from pdf_to_text_extraction_service_spark.operators.ivf import (
        assign_clusters_pd,
        train_kmeans,
    )
    from pdf_to_text_extraction_service_spark.operators.semdedup import (
        _cluster_prune_fn,
    )

    df = _mutant_union(spark)
    cents = train_kmeans(df, k=4, iters=2)
    assigned = assign_clusters_pd(df, cents).select(
        "cluster", F.col("vec_id").alias("_id"),
        F.col("embedding").alias("_v"),
        F.expr("sqrt(" + _DOT.format(a="embedding", b="embedding")
               + ")").alias("_n")).persist()
    try:
        capped = cap_flooded_buckets(assigned, ["cluster"], "_id", 4096)
        old = sorted(map(tuple,
                         _old_pair_phase(capped, 0.95).collect()))
        new = sorted(map(tuple, capped.groupBy("cluster").applyInPandas(
            _cluster_prune_fn(0.95, "vec_id"),
            "vec_id long, kept_id long, cosine double").collect()))
        assert len(old) > 0 and old == new
    finally:
        assigned.unpersist()


def test_semantic_dedup_zero_norm_rows_follow_nan_ordering(spark):
    """Zero-norm embeddings produce NaN cosine; Spark/DuckDB NaN
    ordering treats NaN >= threshold as TRUE — a zero vector's cosine
    against ANY cluster-mate is 0/0 = NaN, so it is removed with the
    lowest cluster-mate id as witness and a NaN cosine (the pre-r8
    SQL path errored under ANSI on these rows — the tolerant behavior
    is the documented one)."""
    from pdf_to_text_extraction_service_spark.operators.semdedup import (
        semantic_dedup,
    )

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)])
            for i in range(20)]
    rows += [(100, [0.0] * 8), (101, [0.0] * 8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in
           semantic_dedup(df, k=3, iters=2, threshold=0.999).collect()}
    assert 101 in out and 100 in out
    assert out[101]["kept_id"] < 101
    # NaN crosses the Arrow boundary as NULL (pandas NA convention)
    assert out[101]["cosine"] is None
    assert out[100]["cosine"] is None
