"""r8 optimization parity pins for the MinHash shingle path: the
vectorized XXH64 and the Arrow shingle-hash UDF must be bit-identical
to Spark's native xxhash64 / the JVM expression chain they replaced."""

from __future__ import annotations

import random
import string

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def test_xxh64_matches_spark_all_length_classes(spark):
    """Every XXH64 code path: empty, 1-3 byte, 4-7 byte, 8-31 byte,
    32+ byte (1..4 blocks) inputs, plus non-ASCII UTF-8."""
    from pdf_to_text_extraction_service_spark.operators.xxh64np import (
        xxh64_bytes,
    )

    rng = random.Random(42)
    samples = ["", "a", "ab", "abc", "abcd", "abcdefg", "abcdefgh"]
    for ln in (9, 15, 31, 32, 33, 63, 64, 65, 100, 130, 255):
        for _ in range(8):
            samples.append("".join(
                rng.choice(string.printable) for _ in range(ln)))
    samples += ["café über 中文 😀", "naïve résumé", ""]

    df = spark.createDataFrame([(s,) for s in samples], "s string")
    want = [r["h"] for r in
            df.select(F.xxhash64("s").alias("h")).collect()]
    got = xxh64_bytes([s.encode("utf-8") for s in samples]).tolist()
    assert got == want


def test_shingle_hash_ids_udf_matches_jvm_chain(spark):
    """The Arrow shingling UDF == the pre-r8 JVM expression chain
    (split -> shingles -> distinct -> xxhash64 & M31 -> distinct)."""
    from pdf_to_text_extraction_service_spark.operators.neardup import (
        shingles_from_tokens,
        tokens_col,
    )
    from tests.reference.neardup import shingle_hash_ids_udf, shingle_hashes

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text")
    edge = spark.createDataFrame(
        [(1000, ""), (1001, " "), (1002, "one"), (1003, "one two"),
         (1004, "one two three"), (1005, "a  b   c d"),
         (1006, "dup dup dup dup dup"), (1007, None),
         (1008, "café über 中文 😀 mixé")],
        "doc_id long, text string")
    df = docs.unionByName(edge)

    jvm = df.select(
        "doc_id", tokens_col("text").alias("_t")
    ).select(
        "doc_id",
        F.array_distinct(shingles_from_tokens("_t", 3)).alias("_sh"),
    ).select(
        "doc_id",
        F.array_distinct(shingle_hashes("_sh")).alias("h"),
    )
    arrow = df.select(
        "doc_id", shingle_hash_ids_udf(3)(F.col("text")).alias("h"))

    want = {r["doc_id"]: r["h"] for r in jvm.collect()}
    got = {r["doc_id"]: (None if r["h"] is None else list(r["h"]))
           for r in arrow.collect()}
    want = {k: (None if v is None else list(v)) for k, v in want.items()}
    assert got == want and len(got) > 500


def test_fused_prep_matches_chained_udfs(spark):
    """minhash_prep_fn (one mapInPandas hop: shingles + signature,
    fast Mersenne mod + reduceat mins) == the chained
    shingle_hash_ids_udf + minhash_signature_udf outputs."""
    from pyspark.sql import functions as F

    from pdf_to_text_extraction_service_spark.operators.neardup import (
        minhash_prep_fn,
    )
    from tests.reference.neardup import (
        minhash_signature_udf,
        shingle_hash_ids_udf,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text")
    fused = (
        docs.select(F.col("doc_id").alias("_id"),
                    F.col("text").alias("_t"))
        .mapInPandas(minhash_prep_fn(3, 96),
                     "_id long, _hsh array<bigint>, _sig array<bigint>")
    )
    chained = (
        docs.select(F.col("doc_id").alias("_id"),
                    shingle_hash_ids_udf(3)(F.col("text"))
                    .alias("_hsh"))
        .withColumn("_sig", minhash_signature_udf(96)("_hsh"))
    )
    want = {r["_id"]: (list(r["_hsh"]), list(r["_sig"]))
            for r in chained.collect()}
    got = {r["_id"]: (list(r["_hsh"]), list(r["_sig"]))
           for r in fused.collect()}
    assert got == want and len(got) == 500
