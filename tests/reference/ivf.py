"""Parity reference for ``operators/ivf.py``: the pure-SQL posexplode
k-means trainer that the one-Exchange Arrow ``train_kmeans`` replaced."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_to_text_extraction_service_spark.operators.ivf import (
    FOLD_BLOCK,
    assign_clusters,
)


def train_kmeans_reference(df: DataFrame, k: int = 16, iters: int = 5,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           ) -> list[list[float]]:
    """The original pure-SQL trainer (posexplode -> per-(cluster,
    dim, blk) ordered collect_list folds).  Kept as the cross-check
    for ``ivf.train_kmeans``'s vectorized path — 2 shuffles of
    n x dim exploded rows per iteration make it the slow variant."""
    init = (
        df.orderBy(id_col).limit(k)
        .select(vec_col).collect()
    )
    centroids = [[float(v) for v in r[vec_col]] for r in init]
    for _ in range(iters):
        assigned = assign_clusters(df, centroids, vec_col)
        exploded = assigned.select(
            "cluster",
            (F.col(id_col) / F.lit(FOLD_BLOCK)).cast("long").alias("blk"),
            F.col(id_col).alias("_vid"),
            F.posexplode(vec_col).alias("dim", "val"),
        )
        block_sums = (
            exploded.groupBy("cluster", "dim", "blk")
            .agg(
                F.expr(
                    "aggregate(array_sort(collect_list("
                    "struct(_vid, val))), cast(0.0 as double), "
                    "(acc, s) -> acc + cast(s.val as double))"
                ).alias("bsum"),
                F.count("*").alias("bn"),
            )
        )
        means = (
            block_sums.groupBy("cluster", "dim")
            .agg(
                F.expr(
                    "aggregate(array_sort(collect_list("
                    "struct(blk, bsum))), cast(0.0 as double), "
                    "(acc, s) -> acc + s.bsum)"
                ).alias("tot"),
                F.sum("bn").alias("n"),
            )
            .withColumn("m", F.col("tot") / F.col("n"))
            .groupBy("cluster")
            .agg(F.array_sort(
                F.collect_list(F.struct("dim", "m"))).alias("dm"))
            .select("cluster",
                    F.expr("transform(dm, x -> x.m)").alias("centroid"))
            .collect()
        )
        new = {r["cluster"]: [float(v) for v in r["centroid"]]
               for r in means}
        centroids = [new.get(i, centroids[i]) for i in range(k)]
    return centroids
