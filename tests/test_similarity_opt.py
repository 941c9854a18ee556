"""r8 optimization parity pins for embedding near-dup: the vectorized
hyperplane bucketing and exact-cosine paths must be bit-identical to
the interpreted SQL expressions they replaced."""

from __future__ import annotations

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _vecs(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    return emb.select(
        "vec_id",
        F.expr("transform(embedding, v -> cast(v as double))")
        .alias("embedding"))


def test_hyperplane_buckets_pd_equals_jvm(spark):
    from pdf_to_text_extraction_service_spark.operators.similarity import (
        hyperplane_bucket,
        hyperplane_buckets_pd,
        make_planes,
    )

    df = _vecs(spark)
    dim = 64
    all_planes = [make_planes(dim, 8, 11 + t) for t in range(4)]
    jvm = df.select(
        "vec_id",
        *[hyperplane_bucket("embedding", p).alias(f"b{t}")
          for t, p in enumerate(all_planes)])
    arrow = df.select(
        "vec_id",
        hyperplane_buckets_pd(all_planes)(F.col("embedding"))
        .alias("bs"))
    want = {r["vec_id"]: [r[f"b{t}"] for t in range(4)]
            for r in jvm.collect()}
    got = {r["vec_id"]: list(r["bs"]) for r in arrow.collect()}
    assert got == want and len(got) == 500


def test_cosine_exact_pd_equals_sql_fold(spark):
    from pdf_to_text_extraction_service_spark.operators.similarity import (
        _dot,
        _norm,
    )
    from tests.reference.similarity import cosine_exact_pd

    df = _vecs(spark)
    pairs = df.alias("a").join(
        df.alias("b"),
        F.col("a.vec_id") + 1 == F.col("b.vec_id")).select(
        F.col("a.vec_id").alias("id"),
        F.col("a.embedding").alias("_va"),
        F.col("b.embedding").alias("_vb"))
    sql = pairs.withColumn(
        "c", _dot("_va", "_vb") / (_norm("_va") * _norm("_vb")))
    arrow = pairs.withColumn("c", cosine_exact_pd("_va", "_vb"))
    want = {r["id"]: r["c"] for r in sql.collect()}
    got = {r["id"]: r["c"] for r in arrow.collect()}
    assert got == want and len(got) > 400
