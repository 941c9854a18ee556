"""r8 optimization parity pin: the vectorized lang_id must equal the
original JVM stopword-score expression row-for-row."""

from __future__ import annotations

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def test_lang_id_matches_jvm(spark):
    from pdf_to_text_extraction_service_spark.operators.textstats import (
        lang_id,
    )
    from tests.reference.textstats import lang_id_jvm

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text")
    edge = spark.createDataFrame(
        [(5000, None), (5001, ""), (5002, "la la la"),     # fr/es tie
         (5003, "the und der la el"),                      # multi hit
         (5004, "xyzzy plugh"), (5005, "的 是 不 了")],
        "doc_id long, text string")
    docs = docs.unionByName(edge)
    want = {r["doc_id"]: r["lang_guess"]
            for r in lang_id_jvm(docs).select(
                "doc_id", "lang_guess").collect()}
    got = {r["doc_id"]: r["lang_guess"]
           for r in lang_id(docs).select(
               "doc_id", "lang_guess").collect()}
    assert got == want and len(got) > 500
    assert got[5002] == "es"     # tie broken to lexicographic first
    assert got[5000] == "und" and got[5004] == "und"
